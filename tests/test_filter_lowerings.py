"""The Mongo filter's two lowerings select the same rows and raise the same
errors: ``filter_mask`` (an Arrow mask over a table of the Arrow types of a
Spark schema, as a session's held rows are) is pinned against
``compile_filter``'s Spark Column, the reference, over one rows x filters
matrix.  The rows carry nested and null parent structs, arrays, mixed
numeric types, NaN and nulls; the filters cover every rule of the
dialect, and Spark's order of doubles (NaN equals NaN and is greater than
+inf).
"""

from decimal import Decimal

import pyarrow as pa
import pytest

from fabstir_vectordb_spark.functions.filters import FilterError, compile_filter, filter_mask

NAN = float("nan")
INF = float("inf")

SCHEMA = (
    "id int, metadata struct<"
    "s:string, i:bigint, n:int, f:double, g:float, d:decimal(20,0), b:boolean, "
    "tags:array<string>, nums:array<double>, ints:array<bigint>, flags:array<boolean>, "
    "u:struct<id:string, w:struct<x:bigint, y:double>>>"
)


def _md(s=None, i=None, n=None, f=None, g=None, d=None, b=None, tags=None, nums=None,
        ints=None, flags=None, u=None):
    d = None if d is None else Decimal(d)
    return {"s": s, "i": i, "n": n, "f": f, "g": g, "d": d, "b": b, "tags": tags,
            "nums": nums, "ints": ints, "flags": flags, "u": u}


ROWS = [
    (0, _md("a", 1, 1, 1.0, 1.0, 1, True, ["x", "y"], [1.0, 2.5], [1, 2], [True],
            {"id": "u1", "w": {"x": 1, "y": 0.5}})),
    (1, _md("b", 2, 2, 2.5, 2.5, 2, False, [], [NAN], [3], [False, None],
            {"id": "u2", "w": None})),
    (2, _md("1", -3, -3, NAN, NAN, None, None, ["a", None], [None, 3.0], None, None,
            {"id": None, "w": {"x": None, "y": NAN}})),
    (3, _md(None, 2**62 + 1, 7, -0.0, 0.0, 10**19, True, None, [], [2**62 + 1], [],
            None)),
    (4, None),
    (5, _md("", 9007199254740993, 0, INF, -INF, 9007199254740993, False, ["1"], [1.0],
            [9007199254740993], [True, False], {"id": "u1", "w": {"x": 2, "y": None}})),
    (6, _md("a", None, None, -INF, None, 0, None, ["x"], [2.0, NAN], [-1], None,
            {"id": "u3", "w": {"x": 1, "y": 1.5}})),
    (7, _md("true", 0, 2, 0.5, 0.25, -5, True, ["true"], [0.5, -0.0], [0, 5], [None],
            {"id": "u2", "w": {"x": 3, "y": 3.0}})),
]

FILTERS = [
    # equality, dispatched on the stored type
    {"s": "a"}, {"s": "1"}, {"s": 1}, {"s": True}, {"s": ""},
    {"i": 1}, {"i": 1.0}, {"i": 2**62 + 1}, {"i": 9007199254740993}, {"i": "1"},
    {"n": 2}, {"n": 2.0}, {"n": True},
    {"f": 2.5}, {"f": NAN}, {"f": -0.0}, {"f": 0.0}, {"f": INF}, {"f": 1},
    {"g": 2.5}, {"g": 0.25}, {"g": NAN},
    {"d": 1}, {"d": 10**19}, {"d": 9007199254740993},
    {"b": True}, {"b": False}, {"b": 1},
    {"s": None}, {"u": None}, {"u.w": None}, {"u.w.x": None}, {"f": None},
    # arrays: contains, element types, NaN, ints as doubles
    {"tags": "x"}, {"tags": "1"}, {"tags": 1}, {"tags": None}, {"tags": ["x", "y"]},
    {"nums": 2.5}, {"nums": NAN}, {"nums": 0.0}, {"nums": 3}, {"nums": "1"},
    {"ints": 2**62 + 1}, {"ints": 9007199254740992}, {"ints": 5.0}, {"ints": -1},
    {"flags": True}, {"flags": False}, {"flags": 1},
    # nested and null parent structs
    {"u.id": "u1"}, {"u.w.x": 1}, {"u.w.y": {"$gt": 0.5}}, {"u.w.y": NAN},
    {"u": {"id": "u1", "w": {"x": 1, "y": 0.5}}}, {"u.w": {"x": 1, "y": 1.5}},
    {"u.w": {"x": 1}}, {"u": {"id": "u2"}},
    # missing fields
    {"nope": "a"}, {"u.nope": 1}, {"s.deeper": "a"}, {"nope": {"$gte": 1}},
    {"nope": {"$in": [1]}}, {"nope": {"x": 1}},
    # ranges: integral with fractional and huge bounds, doubles, NaN, inf
    {"i": {"$gt": 0.5}}, {"i": {"$gte": 1.5, "$lt": 2.5}}, {"i": {"$lte": -2.5}},
    {"i": {"$gt": 2.0**62}}, {"i": {"$gte": 2**62 + 1}}, {"i": {"$lt": -(2.0**63)}},
    {"n": {"$gte": -3, "$lte": 2}}, {"n": {"$gt": 6.9}},
    {"f": {"$gt": 1}}, {"f": {"$gte": NAN}}, {"f": {"$gt": NAN}}, {"f": {"$lt": NAN}},
    {"f": {"$lte": NAN}}, {"f": {"$lt": 0}}, {"f": {"$lte": -0.0}}, {"f": {"$gte": INF}},
    {"f": {"$lt": -INF}}, {"f": {"$gt": -INF}}, {"f": {"$gt": INF}},
    {"g": {"$gt": 0.2}}, {"g": {"$lte": NAN}},
    {"d": {"$gt": 9007199254740992}}, {"d": {"$lt": 0.5}},
    {"s": {"$gt": 0}}, {"b": {"$gte": 0}}, {"tags": {"$gt": 0}}, {"u": {"$lt": 1}},
    # $in with mixed types
    {"s": {"$in": ["a", 1, True, None]}}, {"i": {"$in": [1, 2.0, "2", True]}},
    {"f": {"$in": [NAN, 2.5]}}, {"b": {"$in": [False, 0]}}, {"tags": {"$in": ["x"]}},
    {"u.w.x": {"$in": [3, None]}}, {"s": {"$in": []}}, {"s": {"$in": [["a"], {"x": 1}]}},
    # $and / $or, empty, nested, implicit
    {"$and": []}, {"$or": []}, {"$and": [{"$or": []}]}, {"$or": [{"$and": []}]},
    {"$or": [{"s": "a"}, {"b": False}]}, {"$and": [{"s": "a"}, {"i": {"$gte": 0}}]},
    {"s": "a", "tags": "x"}, {"$or": [{"nope": 1}, {"u.w.x": {"$gte": 2}}]},
    {"$and": [{"$or": [{"f": NAN}, {"nums": NAN}]}, {"b": {"$in": [True, False]}}]},
    {},
]

ERRORS = [
    {"i": {"$gt": 1, "$gte": 2}}, {"i": {"$lt": 1, "$lte": 2}},
    {"nope": {"$gt": 1, "$gte": 2}}, {"i": {"$gte": "1"}}, {"i": {"$gte": True}},
    {"i": {"$in": 1}}, {"i": {"$in": [1], "$gt": 0}}, {"i": {"$regex": "x"}},
    {"$not": {"i": 1}}, {"i": {}}, {"$and": {"i": 1}}, {"$or": "x"},
    {"$and": [{"i": {"$gt": 0, "$gte": 0}}]}, [{"i": 1}], {"i": {"$gt": 10**400}},
]


@pytest.fixture(scope="module")
def table(spark):
    df = spark.createDataFrame(ROWS, SCHEMA).cache()
    return df, df.toArrow()


def _spark_ids(df, flt, **kw):
    return sorted(r["id"] for r in df.filter(compile_filter(flt, df.schema, **kw)).select("id").collect())


def _mask_ids(df, t, flt, **kw):
    mask = filter_mask(flt, df.schema, t, **kw)
    assert mask.dtype == bool and len(mask) == t.num_rows
    return sorted(t.column("id").filter(mask).to_pylist())


@pytest.mark.parametrize("flt", FILTERS, ids=[str(f)[:60] for f in FILTERS])
def test_mask_selects_what_the_column_selects(table, flt):
    df, t = table
    assert _mask_ids(df, t, flt, metadata_col="metadata") == _spark_ids(df, flt, metadata_col="metadata")


def test_matrix_is_not_trivial(table):
    """The matrix tells rows apart: most filters keep some rows and drop
    others, so a lowering that kept all or none would fail it."""
    df, t = table
    kept = [len(_mask_ids(df, t, f, metadata_col="metadata")) for f in FILTERS]
    assert sum(0 < k < len(ROWS) for k in kept) > len(FILTERS) // 2


def test_top_level_columns(table):
    df, t = table
    flat = df.select("id", "metadata.*")
    ft = flat.toArrow()
    for flt in ({"i": {"$gte": 1}}, {"u.w.x": 1}, {"tags": "x"}, {"f": NAN}, {"id": 3}):
        assert _mask_ids(flat, ft, flt) == _spark_ids(flat, flt), flt


def test_chunked_and_empty_tables(table):
    """Held rows grow by appended chunks; a filter reads them whole."""
    df, t = table
    chunked = pa.concat_tables([t.slice(0, 3), t.slice(3, 2), t.slice(5)])
    assert chunked.column("metadata").num_chunks > 1
    for flt in ({"nums": NAN}, {"u.w.y": {"$gt": 0.5}}, {"tags": "x", "i": {"$lt": 2**62}}):
        assert _mask_ids(df, chunked, flt, metadata_col="metadata") == _spark_ids(
            df, flt, metadata_col="metadata"
        ), flt
    empty = t.slice(0, 0)
    assert len(filter_mask({"s": "a"}, df.schema, empty, metadata_col="metadata")) == 0
    assert filter_mask(None, df.schema, t).all()


@pytest.mark.parametrize("flt", ERRORS, ids=[str(f)[:50] for f in ERRORS])
def test_mask_raises_what_the_column_raises(table, flt):
    df, t = table
    with pytest.raises((FilterError, OverflowError)) as want:
        compile_filter(flt, df.schema, metadata_col="metadata")
    with pytest.raises(want.type) as got:
        filter_mask(flt, df.schema, t, metadata_col="metadata")
    assert str(got.value) == str(want.value)

