"""MongoDB-style metadata filter compiler -> Catalyst Column predicates.

Parity target: the reference's only intermediate representation —
`MetadataFilter` (src/core/metadata_filter.rs:32-59), parser `from_json`
(:86-252), evaluator `matches` (:270-335), dot-path field access
(:359-373).  Semantics reproduced exactly:

  {f: v}                 equality; if the STORED field is an array,
                         true iff v is an element (:272-283)
  {f: {"$in": [...]}}    membership (:285-291)
  {f: {"$gt"/"$gte"/"$lt"/"$lte": n}}
                         numeric compare via f64 coercion; non-numeric
                         stored field => false (:293-317); $gte with $gt
                         (or $lte with $lt) is a parse error (:172-177)
  {"$and": [...]}        all match; empty AND => TRUE (:319-325)
  {"$or":  [...]}        any match; empty OR => FALSE (:327-333)
  {f1: v1, f2: v2}       implicit AND (:111-116)
  "a.b.c"                dot-path into nested objects; missing => false
  unknown "$op"          UnsupportedOperatorError (:99-103,205-216)
  {f: {}}                InvalidFilterError (:218-223)

Compilation (not row-at-a-time evaluation) is the Spark-first win: the
resulting Column predicate is pushed by Catalyst below ranking and into
the parquet scan, superseding the reference's k*3 oversampling
post-filter (src/hybrid/core.rs:513-549).

One compiler, two lowerings.  The rules above (the validation errors, the
dispatch on the STORED Spark type, missing fields, empty $and/$or) are
written once, against a lowering that supplies the leaves and the
connectives: ``compile_filter`` lowers to a Catalyst Column, and
``filter_mask`` to a boolean mask over an Arrow table whose columns have
the Arrow types of that Spark schema (a session's held rows), evaluated
as it is built with no py4j call.  The dialect has no negation, so the
mask counts a leaf's null as false: no AND or OR of leaves changes.  It
compares doubles as Spark does: NaN equals NaN and orders above every
other value.
"""

from __future__ import annotations

import math
import operator
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


class FilterError(ValueError):
    """Base for filter-compilation errors."""


class UnsupportedOperatorError(FilterError):
    pass


class InvalidFilterError(FilterError):
    pass


_RANGE_OPS = {"$gt", "$gte", "$lt", "$lte"}
_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_NUMERIC_TYPES = _INTEGRAL_TYPES + (
    T.FloatType, T.DoubleType, T.DecimalType,
)


# ------------------------------------------------------------- lowerings


class _Columns:
    """The Spark lowering: every predicate is a Catalyst Column."""

    _CMP = {"$gt": operator.gt, "$gte": operator.ge, "$lt": operator.lt, "$lte": operator.le}

    def const(self, b: bool) -> Column:
        return F.lit(b)

    def field(self, parts: list[str]) -> Column:
        return F.col(".".join(f"`{s}`" for s in parts))

    def is_null(self, x: Column) -> Column:
        return x.isNull()

    def equal(self, x: Column, v: Any) -> Column:
        return x == F.lit(v)

    def double(self, x: Column) -> Column:
        return x.cast("double")

    def compare(self, x: Column, op: str, v: Any) -> Column:
        return self._CMP[op](x, v)

    def contains(self, x: Column, v: Any, numeric: bool) -> Column:
        if numeric:
            return F.array_contains(F.transform(x, lambda e: e.cast("double")), F.lit(v))
        return F.array_contains(x, F.lit(v))

    def and_(self, a: Column, b: Column) -> Column:
        return a & b

    def or_(self, a: Column, b: Column) -> Column:
        return a | b


class _Masks:
    """The Arrow lowering: every predicate is a boolean array over the rows
    of ``table`` with no null (a leaf's null is false), or a Python bool
    that stands for a constant one until it meets an array."""

    _CMP = {"$gt": pc.greater, "$gte": pc.greater_equal, "$lt": pc.less, "$lte": pc.less_equal}

    def __init__(self, table: pa.Table):
        self.table = table
        self._columns: dict[str, pa.Array] = {}

    def const(self, b: bool) -> bool:
        return b

    def field(self, parts: list[str]) -> pa.Array:
        top = parts[0]
        if top not in self._columns:
            self._columns[top] = self.table.column(top).combine_chunks()
        arr = self._columns[top]
        for p in parts[1:]:
            # struct_field applies the parent's nulls (StructArray.field
            # does not): a null struct has null fields, as in Spark
            arr = pc.struct_field(arr, [arr.type.get_field_index(p)])
        return arr

    def is_null(self, x: pa.Array) -> pa.Array:
        return pc.is_null(x)

    def equal(self, x: pa.Array, v: Any) -> pa.Array:
        if isinstance(v, float) and math.isnan(v):
            return pc.is_nan(x).fill_null(False)  # Spark: NaN = NaN
        return pc.equal(x, v).fill_null(False)

    def double(self, x: pa.Array) -> pa.Array:
        # a long beyond 2**53 rounds to the nearest double, as Spark's cast
        return pc.cast(x, pa.float64(), safe=False)

    def compare(self, x: pa.Array, op: str, v: Any) -> pa.Array | bool:
        if not pa.types.is_floating(x.type):
            return self._CMP[op](x, v).fill_null(False)
        # Spark orders NaN above every other double and equal to itself
        nan = pc.is_nan(x)
        if math.isnan(v):
            out = {"$gt": False, "$gte": nan, "$lt": pc.invert(nan), "$lte": pc.is_valid(x)}[op]
            return out if isinstance(out, bool) else out.fill_null(False)
        out = self._CMP[op](x, v)
        if op in ("$gt", "$gte"):
            out = pc.or_(out, nan)
        return out.fill_null(False)

    def contains(self, x: pa.Array, v: Any, numeric: bool) -> pa.Array:
        # any element equal: per list, the count of equal elements between
        # its offsets (into ``values``, which a null list also spans)
        values = x.values
        hit = self.equal(self.double(values) if numeric else values, v)
        seen = np.concatenate([[0], np.cumsum(hit.to_numpy(zero_copy_only=False))])
        offsets = x.offsets.to_numpy()
        found = seen[offsets[1:]] > seen[offsets[:-1]]
        return pa.array(found & x.is_valid().to_numpy(zero_copy_only=False))

    def and_(self, a, b):
        if isinstance(a, bool):
            return b if a else False
        if isinstance(b, bool):
            return a if b else False
        return pc.and_(a, b)

    def or_(self, a, b):
        if isinstance(a, bool):
            return True if a else b
        if isinstance(b, bool):
            return True if b else a
        return pc.or_(a, b)


# ------------------------------------------------------------- the rules


def _resolve(path: str, schema: T.StructType) -> tuple[list[str], T.DataType] | None:
    """Walk a dot path through nested structs; None if any segment is missing."""
    parts = path.split(".")
    cur: T.DataType = schema
    for p in parts:
        if not isinstance(cur, T.StructType):
            return None
        try:
            field = cur[p]
        except KeyError:
            return None
        cur = field.dataType
    return parts, cur


def _is_number(v: Any) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _eq_predicate(lo, col, dtype: T.DataType, value: Any):
    """JSON-equality semantics, dispatched on the STORED column type."""
    if isinstance(dtype, T.ArrayType):
        # array-contains equality (metadata_filter.rs:274-279)
        if isinstance(value, (list, dict)):
            return lo.const(False)  # array/object element equality: not reachable in dialect
        return _typed_eq(lo, col, dtype.elementType, value, contains=True)
    return _typed_eq(lo, col, dtype, value)


def _typed_eq(lo, col, dtype: T.DataType, value: Any, contains: bool = False):
    """Equality with JSON type rules: number==number (int/float merged),
    string==string, bool==bool; cross-type => false.  With ``contains``,
    ``col`` is an array of ``dtype`` elements, true iff one equals."""
    if value is None:
        if contains:
            return lo.const(False)  # JSON null never equals an array element here
        return lo.is_null(col)
    if isinstance(value, bool):
        ok = isinstance(dtype, T.BooleanType)
    elif _is_number(value):
        ok = isinstance(dtype, _NUMERIC_TYPES)
        value = float(value)
    elif isinstance(value, str):
        ok = isinstance(dtype, T.StringType)
    else:
        return lo.const(False)
    if not ok:
        return lo.const(False)
    numeric = isinstance(value, float)
    if contains:
        return lo.contains(col, value, numeric)
    return lo.equal(lo.double(col) if numeric else col, value)


def _in_predicate(lo, col, dtype: T.DataType, values: Any):
    if not isinstance(values, list):
        raise InvalidFilterError("$in requires a list")
    if not values:
        return lo.const(False)
    preds = [_eq_scalar_only(lo, col, dtype, v) for v in values]
    out = preds[0]
    for p in preds[1:]:
        out = lo.or_(out, p)
    return out


def _eq_scalar_only(lo, col, dtype: T.DataType, value: Any):
    # $in compares the whole stored value against each list element
    # (metadata_filter.rs:285-291) — no array-contains unrolling.
    if isinstance(dtype, T.ArrayType):
        return lo.const(False)
    return _typed_eq(lo, col, dtype, value)


def _check_range(spec: dict) -> None:
    if "$gt" in spec and "$gte" in spec:
        raise InvalidFilterError("cannot combine $gt and $gte")
    if "$lt" in spec and "$lte" in spec:
        raise InvalidFilterError("cannot combine $lt and $lte")
    for op, v in spec.items():
        if not _is_number(v):
            raise InvalidFilterError(f"{op} bound must be numeric, got {v!r}")


def _range_predicate(lo, col, dtype: T.DataType, spec: dict):
    _check_range(spec)
    if not isinstance(dtype, _NUMERIC_TYPES):
        # f64 coercion of a non-numeric field fails => no match (:310-312)
        return lo.const(False)
    pred = lo.const(True)
    if isinstance(dtype, _INTEGRAL_TYPES) and all(
        abs(float(v)) < 2**62 for v in spec.values()
    ):
        # cast-free integral compare: `cast(col as double) >= 100.0`
        # blocks parquet-native predicate pushdown, while `col >= 100` is
        # pushable and exactly equivalent (fractional bounds transpose to
        # the neighboring integer: x > 2.5 <=> x > floor(2.5))
        rounded = {"$gt": math.floor, "$gte": math.ceil, "$lt": math.ceil, "$lte": math.floor}
        for op in ("$gt", "$gte", "$lt", "$lte"):
            if op in spec:
                bound = int(rounded[op](float(spec[op])))
                pred = lo.and_(pred, lo.compare(col, op, bound))
        return pred
    c = lo.double(col)
    for op in ("$gt", "$gte", "$lt", "$lte"):
        if op in spec:
            pred = lo.and_(pred, lo.compare(c, op, float(spec[op])))
    return pred


def _field_predicate(lo, path: str, spec: Any, schema: T.StructType, prefix: str):
    full = f"{prefix}{path}"
    resolved = _resolve(full, schema)
    if isinstance(spec, dict) and any(k.startswith("$") for k in spec):
        ops = set(spec)
        unknown = {k for k in ops if k.startswith("$")} - _RANGE_OPS - {"$in"}
        if unknown:
            raise UnsupportedOperatorError(f"unsupported operator(s) {sorted(unknown)}")
        if "$in" in ops and ops - {"$in"}:
            raise InvalidFilterError("$in cannot be combined with other operators")
        if resolved is None:
            # still validate the spec so invalid filters raise even when
            # the field is absent, then match nothing
            if "$in" not in ops:
                _check_range(spec)
            return lo.const(False)
        parts, dtype = resolved
        col = lo.field(parts)
        if "$in" in ops:
            return _in_predicate(lo, col, dtype, spec["$in"])
        return _range_predicate(lo, col, dtype, spec)
    if isinstance(spec, dict):
        if not spec:
            raise InvalidFilterError(f"empty filter object for field {path!r}")
        # object equality without $ ops: JSON equality on the nested object —
        # expressed as exact-keys AND of per-key equality
        if resolved is None:
            return lo.const(False)
        _, dtype = resolved
        if not isinstance(dtype, T.StructType) or set(spec) != set(dtype.fieldNames()):
            return lo.const(False)
        sub = [
            _field_predicate(lo, f"{path}.{k}", v, schema, prefix) for k, v in spec.items()
        ]
        out = sub[0]
        for p in sub[1:]:
            out = lo.and_(out, p)
        return out
    if resolved is None:
        return lo.const(False)  # missing field => false (:280-282)
    parts, dtype = resolved
    return _eq_predicate(lo, lo.field(parts), dtype, spec)


def _compile(lo, node: dict, schema: T.StructType, prefix: str):
    preds = []
    for key, spec in node.items():
        if key == "$and":
            if not isinstance(spec, list):
                raise InvalidFilterError("$and requires a list")
            sub = [_compile(lo, s, schema, prefix) for s in spec]
            p = lo.const(True)  # empty AND is vacuously true (:320-323)
            for s in sub:
                p = lo.and_(p, s)
            preds.append(p)
        elif key == "$or":
            if not isinstance(spec, list):
                raise InvalidFilterError("$or requires a list")
            sub = [_compile(lo, s, schema, prefix) for s in spec]
            p = lo.const(False)  # empty OR matches nothing (:328-331)
            for s in sub:
                p = lo.or_(p, s)
            preds.append(p)
        elif key.startswith("$"):
            raise UnsupportedOperatorError(f"unsupported operator {key!r}")
        else:
            preds.append(_field_predicate(lo, key, spec, schema, prefix))
    if not preds:
        return lo.const(True)  # {} matches everything
    out = preds[0]
    for p in preds[1:]:
        out = lo.and_(out, p)  # implicit AND (:111-116)
    return out


def _root(filter_json: Any) -> None:
    if not isinstance(filter_json, dict):
        raise InvalidFilterError("filter must be a JSON object")


# ------------------------------------------------------------ the entries


def compile_filter(
    filter_json: dict | None,
    schema: T.StructType,
    metadata_col: str | None = None,
) -> Column:
    """Compile a Mongo-dialect filter dict into a Column predicate.

    ``metadata_col``: resolve field paths under this struct column
    (session layout); None = fields are top-level columns.
    """
    if filter_json is None:
        return F.lit(True)
    _root(filter_json)
    prefix = f"{metadata_col}." if metadata_col else ""
    return _compile(_Columns(), filter_json, schema, prefix)


def filter_mask(
    filter_json: dict | None,
    schema: T.StructType,
    table: pa.Table,
    metadata_col: str | None = None,
) -> np.ndarray:
    """The rows of ``table`` that ``compile_filter(filter_json, schema,
    metadata_col)`` keeps, as a boolean mask: the same rules lowered to
    Arrow compute over ``table``, whose columns have the Arrow types of
    ``schema``'s (``to_arrow_schema``).  Raises what compile_filter
    raises."""
    if filter_json is None:
        return np.ones(table.num_rows, dtype=bool)
    _root(filter_json)
    prefix = f"{metadata_col}." if metadata_col else ""
    out = _compile(_Masks(table), filter_json, schema, prefix)
    if isinstance(out, bool):
        return np.full(table.num_rows, out)
    return out.to_numpy(zero_copy_only=False)
