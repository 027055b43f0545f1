"""VectorDbSession — the user-facing session API.

Parity target: the reference's primary front-end, the Node napi session
(bindings/node/src/session.rs): createSession / addVectors / search /
getVector / deleteVector / batchDelete / deleteByMetadata /
updateMetadata / vacuum / getStats / setSchema / saveTo / loadFrom.

Semantics preserved:
  - dimension fixed at first insert; mismatches error (session.rs:344-357)
  - duplicate id errors (hnsw/core.rs:227-230, ivf/core.rs:129-134)
  - metadata schema validated at add/update when set (session.rs:388-392)
  - search: score = 1/(1+euclidean), default threshold 0.0, filter is the
    Mongo dialect, results ascending by distance, <= k rows, soft-deleted
    rows never returned, metadata returned with the USER id (the
    reference's _originalId machinery (session.rs:410-428) disappears
    because we never hash ids away)
  - deleteVector: soft delete; unknown/already-deleted id errors
    (hybrid/core.rs:904-936); batchDelete returns per-id stats
  - deleteByMetadata returns {deletedCount, deletedIds} (session.rs:543-552)
  - updateMetadata is FULL REPLACE, vector untouched (session.rs:581-632)
  - vacuum physically removes soft-deleted rows and reports counts
    (hybrid/core.rs:989-1011)
  - recent/historical: a 7-day ts predicate replaces the reference's
    HNSW/IVF routing (hybrid/core.rs:357-417) — search_recent /
    search_historical flags restrict the scanned range

Spark-first storage: ONE DataFrame (id, vector, metadata-struct, ts,
deleted) rather than two indices + a metadata side-map.  Once an index is
trained the table also carries ``cluster_id``: train_index assigns and
caches it once, and every insert is assigned on the driver as it is
appended (ivf/core.rs:431-455 assigns at insert) — no write re-clusters
the table.  A write batch is built as one Arrow table, so it enters the
plan as a JVM-local relation and no later pass over the table runs a
Python task for it.  Mutations are column rewrites (merge-on-read style)
committed through one step that drops the query cache, keeps the live
count and logs the events; `vacuum` is the compaction.

A small session is a driver-resident index.  While its table, soft-deleted
rows included, fits a byte cap (``_ranks_on_driver``), every row with
every column is held on
the driver as one Arrow table (``_HeldRows``), and that table is the
session's working state: add, delete, update, delete_by_metadata, vacuum,
get_stats, save and load act on it and run no Spark job, and the session
table ``_df`` follows it — the cached base table with the touched ids
anti-filtered out, unioned with one local relation of their rows, built
only when a Spark plan asks for it.  Writes and filters make no py4j
call: a batch whose metadata needs no type inference converts straight
into the held Arrow type (``_held_metadata``; any other batch is parsed
by Spark), and a Mongo filter is lowered to a mask over the held rows
(``filters.filter_mask``) by the rules ``compile_filter`` lowers to a
Column.  This is the reference's in-process index that keeps recent
rows apart and moves them in batches (hybrid/core.rs:551-649) and
persists chunks with a manifest: ``save`` writes the held rows with
pyarrow in the layout Spark writes, and ``load`` reads them back with
pyarrow.  train_index fills the held rows with the pull that
materializes its cache.  A larger session keeps its Spark plans: every
write is a column rewrite of ``_df``, bounded by a periodic lineage
checkpoint.

One candidate choice, two plans split by where the queries live.  Every
search ranks the rows ``_predicate`` and ``_probe_width`` pick: one
predicate on the live rows (recency and filter, or none) and an IVF probe
width, which probes the clustered table when an index is trained and no
filter is given, else ranks the filtered live rows exactly.  search and
search_batch hold their queries on the driver.  A small session ranks
its held rows there and makes no py4j call: the recency cutoff and the
filter are masks over the held Arrow table, and the rows are ranked from
a block index built once per table version (``_HeldRows.blocks``: the
held vectors viewed in place, and each cluster's run), so a probed search
reads only its probed clusters' rows.  A larger table broadcasts
the queries into one map-only Arrow pass (``partial_knn``) that emits
<= k rows per (query, batch).  Both rank with the same kernel with each
row's metadata carried along, and the driver keeps the first k.
search_dataframe's queries arrive as a DataFrame, so it returns
``_ranked``: IVFIndex.search_bulk or knn_bulk over the same rows, which
collect a bounded query set once and merge on the driver, and cogroup a
larger one.  All plans return the same rows.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import operator
import os
import shutil
import uuid
from functools import reduce
from typing import Any, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.conversion import ArrowTableToRowsConversion, LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema

from fabstir_vectordb_spark.functions import distance as D
from fabstir_vectordb_spark.functions.filters import compile_filter, filter_mask
from fabstir_vectordb_spark.functions.schema import MetadataSchema
from fabstir_vectordb_spark.operators import _arrow
from fabstir_vectordb_spark.operators.cache import QueryResultCache
from fabstir_vectordb_spark.operators.ivf import IVFIndex
from fabstir_vectordb_spark.operators.knn import (
    _batch_topk_rows,
    _cluster_runs,
    _first_k_rows,
    _probed_topk_rows,
    _query_positions,
    knn_bulk,
    partial_knn,
)
from fabstir_vectordb_spark.operators.scoring import mmr_select
from fabstir_vectordb_spark.operators.topk import first_k_per_query
from fabstir_vectordb_spark.plans.tuning import plan_search

RECENCY_DAYS = 7  # src/hybrid/core.rs:77
FORMAT_VERSION = 3  # mirrors MANIFEST_VERSION (src/core/chunk.rs:30)
# the table bytes, soft-deleted rows included, up to which a session holds
# its rows on the driver (``VectorDbSession._ranks_on_driver``): about 42k
# rows of 384 dims.
# With writes applied to the held rows, the held search beat
# ``partial_knn`` at 20k and 40k rows with or without a write before each
# search, and lost only the filtered search after a write at 60k (541 ms
# against 469 ms) on a 4-core box (plans/held_writes/crossover.log)
_DRIVER_RANK_MAX_BYTES = 64 << 20
# the file-name suffix Spark's parquet writer gives each codec the held
# rows' pyarrow save writes; another codec is written by Spark
_CODEC_SUFFIX = {"none": "", "uncompressed": "", "snappy": ".snappy", "gzip": ".gz", "zstd": ".zstd"}


class VectorDbError(ValueError):
    pass


def _utcnow() -> _dt.datetime:
    return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)


def _row_to_plain(v: Any) -> Any:
    if isinstance(v, Row):
        return {k: _row_to_plain(x) for k, x in v.asDict().items() if x is not None}
    if isinstance(v, dict):
        return {k: _row_to_plain(x) for k, x in v.items() if x is not None}
    if isinstance(v, list):
        return [_row_to_plain(x) for x in v]
    return v


def _result_item(r: Row | dict, include_vectors: bool) -> dict:
    """One search result as the session API returns it, from a row with
    id, distance, score, metadata (and vector) fields."""
    item = {
        "id": r["id"],
        "distance": r["distance"],
        "score": r["score"],
        "metadata": _row_to_plain(r["metadata"]) if r["metadata"] is not None else None,
    }
    if include_vectors:
        item["vector"] = list(r["vector"])
    return item


def _mmr_select(results: list[dict], k: int, lam: float) -> list[dict]:
    """Driver-side MMR over an already-collected candidate list: the
    greedy selection of operators/scoring.py:mmr_rerank
    (``scoring.mmr_select``), its relevances rounded by Python ``round``."""
    if not results:
        return []
    cand = sorted(
        results, key=lambda r: (-round(r["score"], 6), r["id"])
    )
    rel = np.asarray([round(r["score"], 6) for r in cand])
    [(selected, _)] = mmr_select([r["vector"] for r in cand], rel, k, [lam])
    return [dict(cand[i]) for i in selected]


class _HeldRows:
    """Every row of a small session's table, live and soft-deleted, with
    every column of ``_df`` (``deleted``, ``cluster_id`` once trained,
    ``tier`` after migrate_aged), held on the driver as one Arrow table
    whose types are ``to_arrow_schema(schema)``: the session's working
    state while ``VectorDbSession._ranks_on_driver`` holds.

    An instance never changes.  A write applied on the driver (add,
    delete, update, delete_by_metadata, vacuum) makes the next instance
    from it, and the session table follows: ``frame`` builds it when first
    asked for, as ``base`` with the ``touched`` ids anti-filtered out,
    unioned with one local relation of the touched rows' current state.
    ``base`` is the Spark table the rows were read from (the cached table
    train_index pulled, load's parquet files, a pulled table) or, when
    None, a local relation of all the rows.  So a scan of the session
    table runs at most the base's tasks plus one.

    Nothing here calls into the JVM but ``read`` and ``frame``: a search
    or a delete_by_metadata selects the rows by masks over ``rows``
    (``VectorDbSession._held_keep``), and a write batch arrives already
    in their Arrow types.

    A search ranks from the instance's block index (``blocks``), built at
    its first search and never by a write, so each write's new instance
    starts without one and none is ever stale.  Building it combines the
    chunks of ``rows`` (the writes append a chunk per batch), so the
    vectors are held once, and the index views them in place.

    What drops the held rows (``VectorDbSession._drop_held``, which makes
    ``frame`` the Spark-path table first): a write not applied here
    (migrate_aged, an add or update whose schema change needs a value
    cast), a table, soft-deleted rows included, grown past the cap, and a
    table set from outside (from_dataframe).  The next search of a session
    under the cap pulls the rows again (``read``).  A save rewrites the
    files a base may read, so it moves the rows onto a local relation of
    their own first (``rebased``)."""

    def __init__(
        self,
        spark: SparkSession,
        schema: T.StructType,
        rows: pa.Table,
        base: DataFrame | None = None,
        touched: frozenset[str] = frozenset(),
    ):
        self.spark = spark
        self.schema = schema
        self.rows = rows
        self.base = base
        self.touched = touched
        self._frame: DataFrame | None = None
        self._alive: np.ndarray | None = None
        self._blocks: _Blocks | None = None

    @classmethod
    def read(cls, df: DataFrame) -> "_HeldRows":
        """The rows of ``df``, pulled with one JVM-only ``toArrow()``."""
        return cls(df.sparkSession, df.schema, _conform(df.toArrow(), to_arrow_schema(df.schema)), df)

    @classmethod
    def read_files(cls, df: DataFrame, path: str) -> "_HeldRows":
        """The rows of ``df``, a ``spark.read.parquet(path)``, read with
        pyarrow: no Spark job.  The hive ``cluster_id=N`` directories give
        ``cluster_id`` as Spark infers it (int), and a save by Spark (INT96
        ``ts``) reads as the same instants."""
        files = pads.dataset(path, format="parquet", partitioning="hive").to_table()
        return cls(df.sparkSession, df.schema, _conform(files, to_arrow_schema(df.schema)), df)

    def frame(self) -> DataFrame:
        """The session table of these rows (see the class docstring)."""
        if self._frame is None:
            if self.base is None:
                self._frame = self.spark.createDataFrame(self.rows, self.schema)
            elif not self.touched:
                self._frame = self.base
            else:
                ids = sorted(self.touched)
                delta = self.spark.createDataFrame(
                    self.rows.filter(pc.is_in(self.rows.column("id"), pa.array(ids, pa.string()))),
                    self.schema,
                ).coalesce(1)
                self._frame = self.base.filter(~F.col("id").isin(ids)).unionByName(
                    delta, allowMissingColumns=True
                )
        return self._frame

    @property
    def alive(self) -> np.ndarray:
        """Which of ``rows`` are live (not soft-deleted)."""
        if self._alive is None:
            self._alive = ~self.rows.column("deleted").to_numpy()
            self._alive.flags.writeable = False
        return self._alive

    @property
    def live_count(self) -> int:
        """The number of live rows."""
        return int(np.count_nonzero(self.alive))

    def blocks(self) -> "_Blocks":
        """The block index of these rows, built once, at the first search
        of this instance: ``rows`` become one chunk, and the index holds
        views and positions into them (``_Blocks``)."""
        if self._blocks is None:
            self.rows = self.rows.combine_chunks()
            order, runs = np.empty(0, dtype=np.int64), {}
            if "cluster_id" in self.rows.column_names and self.rows.num_rows:
                # a row with no cluster (-1) is in no probed run
                cid = pc.fill_null(self.rows.column("cluster_id").chunk(0), -1)
                order, cruns = _cluster_runs(cid)
                runs = {c: (s, e) for c, s, e in cruns}
            self._blocks = _Blocks(
                _arrow.values(self.rows.column("vector"), "vector"),
                _arrow.sort_keys(self.rows.column("id")),
                order,
                runs,
            )
        return self._blocks

    def probed(self, keep: np.ndarray, probes: dict[int, np.ndarray]):
        """The positions of the rows ``keep`` selects in the probed
        clusters, cluster by cluster in ``probes``' id order, and the
        ``(cluster id, start, end)`` run of each cluster among them."""
        b = self.blocks()
        parts, runs, n = [np.empty(0, dtype=np.int64)], [], 0
        for cid in sorted(probes):
            if cid not in b.runs:
                continue
            s, e = b.runs[cid]
            p = b.order[s:e]
            p = p[keep[p]]
            if len(p):
                parts.append(p)
                runs.append((cid, n, n + len(p)))
                n += len(p)
        return np.concatenate(parts), runs

    def first_k(
        self,
        pos: np.ndarray,
        runs: list[tuple[int, int, int]] | None,
        qids: pa.Array,
        Q: np.ndarray,
        k: int,
        probes: dict[int, np.ndarray] | None,
        carry: list[str],
    ) -> pa.Table:
        """The first ``k`` rows per query among the rows at ``pos``, as
        ``knn._first_k_rows`` orders the (query_id, id, distance, *carry)
        rows ``knn._topk_batch`` gives for a batch of them.  Their vectors
        are ranked in float64 by ``knn._batch_topk_rows``: with the
        ``runs`` of ``probed``, one cluster at a time, each against the
        queries that probe it (``knn._probed_topk_rows``), so a search
        converts only a cluster's rows at once.  The ranked rows are merged
        by ``topk.first_k_per_query`` before any column is taken, so only
        the kept rows' columns are taken from ``rows``."""
        b = self.blocks()
        keys = b.keys[pos]
        if runs is None:
            V = b.vectors[pos].astype(np.float64)
            qpos, vpos, d = _batch_topk_rows("l2", V, keys, Q, k)
            vpos = pos[vpos]
        else:
            qpos, vpos, d = _probed_topk_rows(
                pos, runs, probes,
                lambda cid, s, e, qidx: _batch_topk_rows(
                    "l2", b.vectors[pos[s:e]].astype(np.float64), keys[s:e], Q[qidx], k
                ),
            )
        # a repeated query id is one query, as ``_first_k_rows`` groups them
        keep = first_k_per_query(_query_positions(qids, qids)[qpos], d, b.keys[vpos], k)
        t = _arrow.topk_table(qids, qpos[keep], self.rows.column("id"), vpos[keep], d[keep])
        for c in carry:
            t = t.append_column(c, self.rows.column(c).take(vpos[keep]))
        return t

    def live_mask(self, ids) -> np.ndarray:
        """Which of ``rows`` are live rows whose id is in ``ids``.  Rows are
        picked by masks, never positions: ``Table.filter`` works chunk by
        chunk, where ``take`` first concatenates every appended chunk of
        every column."""
        hit = pc.and_(
            pc.is_in(self.rows.column("id"), pa.array(sorted(set(ids)), pa.string())),
            pc.invert(self.rows.column("deleted")),
        )
        return hit.to_numpy(zero_copy_only=False)

    # ------------------------------------------------------------ writes

    def _next(self, rows: pa.Table, ids, schema: T.StructType | None = None) -> "_HeldRows":
        """The instance after a write that changed the rows of ``ids``.  A
        local relation this one built becomes the next one's base."""
        base = self.base if self.base is not None else self._frame
        touched = frozenset() if base is None else self.touched | frozenset(ids)
        return _HeldRows(self.spark, schema or self.schema, rows, base, touched)

    def flagged(self, mask: np.ndarray) -> "_HeldRows":
        """The rows with the ones ``mask`` selects soft-deleted."""
        i = self.rows.schema.get_field_index("deleted")
        rows = self.rows.set_column(
            i, self.rows.schema.field(i), pc.or_(self.rows.column(i), pa.array(mask))
        )
        return self._next(rows, self.rows.column("id").filter(mask).to_pylist())

    def appended(
        self, batch: pa.Table, schema: T.StructType, drop: np.ndarray | None = None
    ) -> "_HeldRows | None":
        """The rows less those ``drop`` selects, with ``batch`` (of Spark schema
        ``schema``) appended as ``unionByName(allowMissingColumns=True)``
        would: columns and struct fields matched by name, a missing one
        null.  None when that union needs a value cast.  A batch of the
        held schema (``VectorDbSession._held_metadata``) is appended as it
        is."""
        merged = _union_schema(self.spark, self.schema, schema)
        if merged is None:
            return None
        rows = self.rows
        if drop is not None and drop.any():
            rows = rows.filter(pa.array(~drop))
        target = rows.schema if merged == self.schema else to_arrow_schema(merged)
        rows = pa.concat_tables([_conform(rows, target), _conform(batch, target)])
        return self._next(rows, batch.column("id").to_pylist(), schema=merged)

    def vacuumed(self) -> "_HeldRows":
        """The live rows alone; their base is a local relation of them."""
        return _HeldRows(self.spark, self.schema, self.rows.filter(pa.array(self.alive)))

    def rebased(self) -> "_HeldRows":
        """The same rows on a local relation of their own: no Spark table
        they were read from stays under them."""
        nxt = _HeldRows(self.spark, self.schema, self.rows)
        nxt._alive, nxt._blocks = self._alive, self._blocks
        return nxt


class _Blocks(NamedTuple):
    """The block index of one ``_HeldRows`` instance, over its one-chunk
    ``rows``: the reference's per-cluster inverted lists
    (ivf/core.rs:565-620) as positions into the held table."""

    # the ``(n, dim)`` vectors, a read-only view of the vector column's
    # value buffer (float32 for an ``array<float>`` column)
    vectors: np.ndarray
    # the ids as ``_arrow.sort_keys`` orders them: they break distance ties
    keys: np.ndarray
    # the row positions sorted stably by cluster id (empty untrained)
    order: np.ndarray
    # {cluster id: (start, end)}: the cluster's run of ``order``
    runs: dict[int, tuple[int, int]]


def _union_schema(spark: SparkSession, a: T.StructType, b: T.StructType) -> T.StructType | None:
    """The schema ``unionByName(allowMissingColumns=True)`` gives tables
    of schemas ``a`` and ``b``, as Spark's analyzer resolves it (no job),
    when every field of either side keeps its type under its own name.
    None when a value would need a cast, a name differs only in case (the
    resolver matches it to another), or Spark refuses the union."""
    if a == b:
        return a

    def empty(schema: T.StructType) -> DataFrame:
        # built in the JVM: createDataFrame's Python-side conversion of
        # an empty list costs several times more
        jspark = spark._jsparkSession
        return DataFrame(
            jspark.createDataFrame(spark._jvm.java.util.ArrayList(), jspark.parseDataType(schema.json())),
            spark,
        )

    try:
        merged = empty(a).unionByName(empty(b), allowMissingColumns=True).schema
    except AnalysisException:
        return None
    return merged if _keeps_types(a, merged) and _keeps_types(b, merged) else None


def _keeps_types(t: T.DataType, merged: T.DataType) -> bool:
    """Whether each field of ``t`` is in ``merged`` under its exact name
    with the same leaf types."""
    if not isinstance(t, T.StructType):
        return t == merged
    if not isinstance(merged, T.StructType):
        return False
    fields = {f.name: f.dataType for f in merged}
    return all(f.name in fields and _keeps_types(f.dataType, fields[f.name]) for f in t)


def _conform(t: pa.Table, schema: pa.Schema) -> pa.Table:
    """``t`` with the columns of ``schema``, matched by name (a missing one
    all null), struct fields matched by name the same way; a column whose
    type is already right is kept as it is."""
    cols = []
    for f in schema:
        if f.name not in t.column_names:
            cols.append(pa.nulls(t.num_rows, f.type))
            continue
        col = t.column(f.name)
        cols.append(col if col.type == f.type else _conform_array(col.combine_chunks(), f.type))
    return pa.Table.from_arrays(cols, schema=schema)


def _conform_array(arr: pa.Array, typ: pa.DataType) -> pa.Array:
    if pa.types.is_struct(typ) and pa.types.is_struct(arr.type):
        kids = {arr.type.field(i).name: c for i, c in enumerate(arr.flatten())}
        return pa.StructArray.from_arrays(
            [
                _conform_array(kids[f.name], f.type) if f.name in kids else pa.nulls(len(arr), f.type)
                for f in typ
            ],
            fields=list(typ),
            mask=arr.is_null(),
        )
    return arr.cast(typ)


class VectorDbSession:
    def __init__(self, spark: SparkSession, session_id: str | None = None):
        self.spark = spark
        self.session_id = session_id or f"session-{uuid.uuid4().hex[:12]}"
        # the session table when no rows are held (``_df``)
        self._table: DataFrame | None = None
        # every row of a small session, held on the driver while
        # ``_ranks_on_driver`` holds: the working state ``_df`` follows
        self._held: _HeldRows | None = None
        self._dim: int | None = None
        self._schema: MetadataSchema | None = None
        self._index: IVFIndex | None = None
        # the live-row count, kept by every mutation so that plan_search
        # never runs a count job; None until first counted (a bulk-loaded
        # table before train_index)
        self._live_count: int | None = 0
        # the soft-deleted row count of a table whose rows are not held,
        # kept the same way; the held rows count their own (``_row_count``)
        self._dead_count: int | None = 0
        # the one table this session cached (train_index's clustered
        # table); unpersisted when a re-train or vacuum replaces it
        self._cached: DataFrame | None = None
        # query-result cache (search_integration.rs:554-624); invalidated
        # by every mutation
        self._cache = QueryResultCache(max_size=100)
        self._mutations = 0
        # mutation event log (the reference's update-event vocabulary,
        # src/client/rust.rs:72-88 Inserted/Updated/Deleted/Migrated —
        # stubbed server-side there, a real queryable log here); one row
        # per affected vector, seq gives a total order
        self._events: list[tuple[int, str, str, _dt.datetime]] = []

    # after this many column-rewrite mutations of a table whose rows are
    # not held, truncate lineage with a localCheckpoint (lazy: the next
    # action materializes it).  Without this, N interleaved mutations build
    # an O(N)-deep plan whose analysis cost grows per mutation — the
    # scale-killer VERDICT r2 flagged.  A held session's table is always
    # its base plus one local relation (``_HeldRows.frame``), so it never
    # grows (plans/held_writes/lineage.txt).
    _CHECKPOINT_EVERY = 16

    @property
    def _df(self) -> DataFrame | None:
        """The session table (id, vector, ts, deleted, metadata, and
        cluster_id once trained): the held rows' table while rows are held,
        built only when a Spark plan asks for it."""
        return self._table if self._held is None else self._held.frame()

    @_df.setter
    def _df(self, df: DataFrame | None) -> None:
        # a table set here is the Spark path's: the held rows, if any, were
        # read into it first, and no longer describe the session
        if self._held is not None:
            self._dead_count = self._held.rows.num_rows - self._live_count
        self._held = None
        self._table = df

    @property
    def _empty(self) -> bool:
        return self._held is None and self._table is None

    @property
    def _table_schema(self) -> T.StructType:
        """The session table's schema, read without building the table."""
        return self._table.schema if self._held is None else self._held.schema

    def _drop_held(self) -> None:
        """Stop holding the rows: the session table becomes their Spark
        table, and the next search of a small session pulls them again."""
        if self._held is not None:
            self._df = self._held.frame()

    @property
    def _clustered(self) -> bool:
        """A trained index: ``_df`` carries ``cluster_id``."""
        return self._index is not None and self._index.is_trained

    def _replace_cached(self, df: DataFrame | None) -> None:
        """Make ``df`` the session's cached table, unpersisting the one it
        replaces."""
        if self._cached is not None:
            self._cached.unpersist()
        self._cached = df

    def _bound_lineage(self) -> None:
        self._mutations += 1
        if self._df is not None and self._mutations % self._CHECKPOINT_EVERY == 0:
            self._df = self._df.localCheckpoint(eager=False)

    def _emit(
        self, event_type: str, ids: list[str], ts: _dt.datetime | None = None
    ) -> None:
        """Append one event per affected vector id.  Driver-side list by
        design: every session mutation's id set already transits the
        driver (the session API is the reference-shaped point surface,
        not the bulk-operator path), so the log costs O(mutated ids)."""
        when = ts or _utcnow()
        base = len(self._events)
        self._events.extend(
            (base + i, event_type, vid, when) for i, vid in enumerate(ids)
        )

    def mutation_events(self) -> DataFrame:
        """The session's mutation log as a DataFrame:
        (seq, event_type, vector_id, ts) with event_type in
        Inserted/Updated/Deleted/Migrated (client/rust.rs:72-88 — the
        reference defines the vocabulary but its SSE endpoint is a stub;
        docs/API.md:715-726).  `Migrated` fires from migrate_aged()
        (batch tier migration; plans/maintenance.py schedules it).
        Write this to any Spark sink (parquet dir + readStream = the
        SSE analogue)."""
        schema = T.StructType(
            [
                T.StructField("seq", T.LongType(), False),
                T.StructField("event_type", T.StringType(), False),
                T.StructField("vector_id", T.StringType(), False),
                T.StructField("ts", T.TimestampType(), False),
            ]
        )
        return self.spark.createDataFrame(self._events, schema)

    # ------------------------------------------------------------------ add

    def _validate_items(
        self, vectors: list[dict], now: _dt.datetime
    ) -> tuple[list[dict], list[tuple[str | None, Exception]], int | None]:
        """Validate an insert batch row by row: dimension, in-batch
        duplicate ids, timestamp type, metadata shape (a dict or None) and
        metadata schema.  Returns the valid rows, the ``(id, error)`` of
        each rejected row (id None when the item has none) and the batch
        dimension.  Reads session state, never writes it: the dimension is
        fixed by the first row that FULLY validates, and only the caller's
        commit pins it."""
        rows: list[dict] = []
        errors: list[tuple[str | None, Exception]] = []
        seen: set[str] = set()
        dim = self._dim
        for item in vectors:
            try:
                vid = str(item["id"])
            except (KeyError, TypeError) as e:
                errors.append((None, e))
                continue
            try:
                vec = [float(x) for x in item["vector"]]
                if not vec:
                    raise VectorDbError(f"empty vector for id {vid!r}")
                if dim is not None and len(vec) != dim:
                    raise VectorDbError(
                        f"dimension mismatch for id {vid!r}: got {len(vec)}, expected {dim}"
                    )
                if vid in seen:
                    raise VectorDbError(f"duplicate id in batch: {vid!r}")
                ts = item.get("timestamp") or now
                # a bad-typed timestamp would otherwise fail the whole
                # batch later, in createDataFrame
                if not isinstance(ts, _dt.datetime):
                    raise VectorDbError(
                        f"timestamp for id {vid!r} must be a datetime, got {type(ts).__name__}"
                    )
                md = item.get("metadata")
                _check_metadata(vid, md)
                if self._schema is not None:
                    self._schema.validate_metadata(md)
            except (VectorDbError, KeyError, TypeError, ValueError) as e:
                errors.append((vid, e))
                continue
            dim = len(vec) if dim is None else dim
            seen.add(vid)
            rows.append(
                {"id": vid, "vector": vec, "metadata": md, "ts": ts, "deleted": False}
            )
        return rows, errors, dim

    def _live_rows(self, ids, *cols: str) -> list[Row]:
        """The one live-id probe: (id, *cols) of the live rows among
        ``ids``, as a collect returns them — read from the held rows with
        no job, else one job bounded by the batch size."""
        if self._held is not None:
            t = self._held.rows.select(["id", *cols]).filter(self._held.live_mask(ids))
            return ArrowTableToRowsConversion.convert(
                t, T.StructType([self._held.schema[c] for c in t.column_names])
            )
        if self._table is None:
            return []
        return (
            self._table.filter(F.col("id").isin(sorted(set(ids))) & ~F.col("deleted"))
            .select("id", *cols)
            .collect()
        )

    def _commit(
        self,
        df: DataFrame,
        event: str,
        ids: list[str],
        ts: _dt.datetime | None = None,
        live_delta: int = 0,
        dead_delta: int = 0,
    ) -> None:
        """Every Spark-path mutation's last step: drop the query cache, swap
        in the new table, move the live and soft-deleted counts by
        ``live_delta`` and ``dead_delta``, bound the table's lineage and log
        one event per id."""
        self._cache.invalidate()
        self._df = df
        if self._live_count is not None:
            self._live_count += live_delta
        if self._dead_count is not None:
            self._dead_count += dead_delta
        self._bound_lineage()
        if ids:
            self._emit(event, ids, ts)

    def _commit_held(
        self,
        held: _HeldRows,
        event: str,
        ids: list[str],
        ts: _dt.datetime | None = None,
        live_delta: int = 0,
    ) -> None:
        """``_commit`` for a write applied to the held rows: ``held`` is the
        next state, and rows grown past the cap, soft-deleted ones
        included, stop being held."""
        self._cache.invalidate()
        self._held = held
        self._live_count += live_delta
        if not self._ranks_on_driver():
            self._drop_held()
        if ids:
            self._emit(event, ids, ts)

    def _parsed_batch(self, table: pa.Table) -> DataFrame:
        """A write batch table (``_batch_table``) as a JVM-local relation:
        ``from_json`` parses the metadata texts with the type
        ``_infer_md_type`` reads from the same texts, so one JSON engine
        both infers and converts.  Declared schema fields take their
        declared types; undeclared extras keep inferred types (only
        declared fields are checked — schema.rs:199-205).  A ``tier``
        column (an update after migrate_aged) is carried as it is."""
        texts = table.column("metadata").to_pylist()
        md_type = T.StructType()
        present = [t for t in texts if t is not None and t != "{}"]
        if present:
            md_type = _infer_md_type(self.spark, present)
            if self._schema is not None:
                names = md_type.fieldNames()
                merged = _merge_struct(self._schema.spark_type(), md_type)
                md_type = T.StructType([f for f in merged if f.name in names])
        schema = self._batch_schema(T.StringType())
        if "tier" in table.column_names:
            schema.add("tier", T.StringType(), True)
        batch = self.spark.createDataFrame(table, schema)
        return batch.withColumn("metadata", F.from_json("metadata", md_type))

    def _held_metadata(self, mds: list[dict | None]) -> pa.Array | None:
        """A batch's metadata built straight in the held rows' Arrow type,
        or None when Spark must parse it (``_parsed_batch``): the batch is
        taken as it is only where ``_needs_no_inference`` proves that the
        parse and its union with the held rows would give the held type
        and these values, and no declared schema field types a carried
        field otherwise."""
        md_type = self._held.schema["metadata"].dataType
        dicts = [m for m in mds if m is not None]
        if not isinstance(md_type, T.StructType) or not _needs_no_inference(dicts, md_type):
            return None
        if self._schema is not None:
            declared = {f.name: f.dataType for f in self._schema.spark_type()}
            if any(k in declared and declared[k] != md_type[k].dataType for d in dicts for k in d):
                return None
        return pa.array(mds, type=self._held.rows.schema.field("metadata").type)

    def _held_batch(self, batch: DataFrame, table: pa.Table) -> pa.Table:
        """``batch`` (``_parsed_batch(table)``) as Arrow: ``table`` with its
        metadata as Spark parsed it.  The collect reads a projection of a
        local relation, which the optimizer folds: no job."""
        md = batch.select("metadata").collect()
        parsed = LocalDataToArrowConversion.convert(
            md, T.StructType([batch.schema["metadata"]]), False
        ).column(0)
        i = table.schema.get_field_index("metadata")
        return table.set_column(i, pa.field("metadata", parsed.type), parsed)

    def _append(self, rows: list[dict], dim: int | None, now: _dt.datetime) -> None:
        ids = [r["id"] for r in rows]
        self._dim = dim
        # the rows are held, or the session is empty, and stay under the cap
        holds = (self._held is not None or self._table is None) and self._fits(
            self._row_count + len(rows)
        )
        md = None if not holds or self._held is None else self._held_metadata(
            [r["metadata"] for r in rows]
        )
        if md is not None:
            held = self._held.appended(self._batch_table(rows, md), self._held.schema)
            self._commit_held(held, "Inserted", ids, now, live_delta=len(rows))
            return
        table = self._batch_table(rows)
        batch = self._parsed_batch(table)
        if holds:
            held = self._held_batch(batch, table)
            nxt = (
                _HeldRows(self.spark, batch.schema, _conform(held, to_arrow_schema(batch.schema)))
                if self._held is None
                else self._held.appended(held, batch.schema)
            )
            if nxt is not None:
                self._commit_held(nxt, "Inserted", ids, now, live_delta=len(rows))
                return
        batch = batch.coalesce(1)
        self._commit(
            batch if self._empty else self._df.unionByName(batch, allowMissingColumns=True),
            "Inserted",
            ids,
            now,
            live_delta=len(rows),
        )

    def add_vectors(
        self,
        vectors: list[dict],
        timestamp: _dt.datetime | None = None,
    ) -> int:
        """Batch insert. Each item: {id, vector, metadata?, timestamp?}.

        All or nothing: dimension, schema and duplicate ids (within the
        batch and against live rows) are checked before anything, the
        session dimension included, is touched; the first error raises.
        """
        if not vectors:
            return 0
        now = timestamp or _utcnow()
        rows, errors, dim = self._validate_items(vectors, now)
        if errors:
            raise errors[0][1]
        clash = {r["id"] for r in self._live_rows(r["id"] for r in rows)}
        for r in rows:
            if r["id"] in clash:
                raise VectorDbError(f"duplicate id: {r['id']!r} already exists")
        self._append(rows, dim, now)
        return len(rows)

    def batch_add_vectors(
        self,
        vectors: list[dict],
        timestamp: _dt.datetime | None = None,
    ) -> dict:
        """Best-effort batch insert with per-row errors in ONE pass
        (src/api/rest.rs:449-531 BatchInsertResponse {successful, failed,
        errors: [{id, error}]}): invalid rows are skipped and reported,
        valid rows are committed — via a single live-id existence probe
        and a single union, never a per-row loop."""
        now = timestamp or _utcnow()
        rows, bad, dim = self._validate_items(vectors, now)
        errors = [
            {"id": "?", "error": f"missing id: {e}"}
            if vid is None
            else {"id": vid, "error": str(e)}
            for vid, e in bad
        ]
        if rows:
            clash = {r["id"] for r in self._live_rows(r["id"] for r in rows)}
            errors.extend(
                {"id": r["id"], "error": f"duplicate id: {r['id']!r} already exists"}
                for r in rows
                if r["id"] in clash
            )
            rows = [r for r in rows if r["id"] not in clash]
        if rows:
            self._append(rows, dim, now)
        return {"successful": len(rows), "failed": len(errors), "errors": errors}

    @classmethod
    def from_dataframe(
        cls,
        df: DataFrame,
        id_col: str = "id",
        vector_col: str = "vector",
        metadata_col: str | None = None,
        ts_col: str | None = None,
        session_id: str | None = None,
        validate: bool = True,
    ) -> "VectorDbSession":
        """Bulk ingestion: wrap an existing table as a session WITHOUT
        the driver-side add_vectors loop — the 100 TB insert path (the
        write-side twin of search_dataframe).  Nothing is collected; the
        table becomes the session's backing DataFrame directly.

        ``validate=True`` runs the reference's insert-time checks as TWO
        distributed jobs instead of per-row driver code: a distinct
        vector-length probe (dimension fixed per index, dim-mismatch ⇒
        error — session.rs:344-357) and a duplicate-id existence probe
        (hnsw/core.rs:227-230).  Per-id mutation events are NOT emitted
        (the event log is the point-API surface; a bulk load is one
        logical event — same contract as the reference's storage-level
        restore).
        """
        spark = df.sparkSession
        s = cls(spark, session_id=session_id)
        if validate:
            dims = [
                r[0]
                for r in df.select(F.size(F.col(vector_col)).alias("d"))
                .distinct()
                .limit(2)
                .collect()
            ]
            if not dims:
                return s  # empty input: empty session
            if len(dims) > 1 or dims[0] <= 0:
                raise VectorDbError(
                    f"mixed or empty vector dimensions in bulk load: {sorted(dims)}"
                )
            dup = (
                df.groupBy(F.col(id_col))
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise VectorDbError(f"duplicate id in bulk load: {dup[0][0]!r}")
            s._dim = int(dims[0])
        else:
            row = df.select(F.size(F.col(vector_col))).limit(1).collect()
            if not row:
                return s
            s._dim = int(row[0][0])
        md = (
            F.col(metadata_col)
            if metadata_col
            else F.lit(None).cast(T.StructType())
        )
        ts = (
            F.col(ts_col).cast("timestamp")
            if ts_col
            else F.lit(_utcnow()).cast("timestamp")
        )
        s._live_count = None  # counted by train_index or vacuum
        s._df = df.select(
            F.col(id_col).cast("string").alias("id"),
            F.col(vector_col).cast(T.ArrayType(T.FloatType())).alias("vector"),
            ts.alias("ts"),
            F.lit(False).alias("deleted"),
            md.alias("metadata"),
        )
        return s

    def _batch_schema(self, md_type: T.DataType) -> T.StructType:
        """The schema of a write batch whose metadata has type ``md_type``."""
        schema = T.StructType(
            [
                T.StructField("id", T.StringType(), False),
                T.StructField("vector", T.ArrayType(T.FloatType()), False),
                T.StructField("ts", T.TimestampType(), False),
                T.StructField("deleted", T.BooleanType(), False),
                T.StructField("metadata", md_type, True),
            ]
        )
        if self._clustered:
            schema.add("cluster_id", T.IntegerType(), False)
        return schema

    def _batch_columns(self) -> list[str]:
        """The columns of a write batch of the session table's rows
        (``_parsed_batch``): ``tier`` is carried when the table has it."""
        return ["id", "vector", "ts", "deleted", "metadata"] + (
            ["cluster_id"] if self._clustered else []
        ) + (["tier"] if "tier" in self._table_schema.fieldNames() else [])

    def _batch_table(self, rows: list[dict], metadata: pa.Array | None = None) -> pa.Table:
        """A write batch as one Arrow table: vectors as ``list<float32>``,
        ``ts`` as UTC microseconds (the instant ``TimestampType`` stores,
        under any process time zone), metadata as JSON text unless
        ``metadata`` gives it.  With a trained index the batch carries
        ``cluster_id``: each vector's nearest centroid, assigned here by
        ``IVFIndex.nearest``."""
        vectors = pa.array([r["vector"] for r in rows], pa.list_(pa.float32()))
        ts = T.TimestampType()
        table = {
            "id": pa.array([r["id"] for r in rows], pa.string()),
            "vector": vectors,
            "ts": pa.array(
                [ts.toInternal(r["ts"]) for r in rows], pa.timestamp("us", tz="UTC")
            ),
            "deleted": pa.array([r["deleted"] for r in rows], pa.bool_()),
            "metadata": metadata if metadata is not None else pa.array(
                [None if r["metadata"] is None else json.dumps(r["metadata"]) for r in rows],
                pa.string(),
            ),
        }
        if self._clustered:
            table["cluster_id"] = pa.array(
                self._index.nearest(_arrow.matrix(vectors, "vector")), pa.int32()
            )
        return pa.table(table)

    # ---------------------------------------------------------------- search

    def _live(self) -> DataFrame:
        return self._df.filter(~F.col("deleted"))

    def _predicate(
        self, filter: dict | None, search_recent: bool, search_historical: bool
    ) -> Column | None:
        """The one predicate on the live rows every search surface ranks
        (None: all of them), with ``_probe_width`` its one candidate choice:
        the recency flags as one ``ts`` predicate against a 7-day cutoff,
        and the metadata filter, pre-filtering BEFORE ranking (exact,
        superseding the reference's k*3 oversampling, hybrid/core.rs:
        513-549).  No Column is built when nothing restricts the rows, so
        the default search makes no py4j call here."""
        preds = []
        if not (search_recent and search_historical):
            cutoff = F.lit(_utcnow() - _dt.timedelta(days=RECENCY_DAYS))
            if not search_recent:
                preds.append(F.col("ts") < cutoff)
            if not search_historical:
                preds.append(F.col("ts") >= cutoff)
        if filter is not None:
            preds.append(
                compile_filter(filter, self._table_schema, metadata_col="metadata")
            )
        return reduce(operator.and_, preds) if preds else None

    def _probe_width(self, k: int, filter: dict | None, n_probe: int | None) -> int | None:
        """A trained index with no metadata filter probes the clustered
        table, with the probe width from ``plan_search`` unless ``n_probe``
        is given; anything else ranks exactly (None)."""
        if not self._clustered or filter is not None:
            return None
        if n_probe is None:
            # planner heuristic (search_integration.rs:375-449): probe
            # width by dataset size and k; the live count is kept by
            # every mutation — no count job per search
            n_probe = plan_search(
                self._live_count, k, self._index.n_clusters,
                brute_force_threshold=0,
            ).n_probe or self._index.n_clusters
        return n_probe

    def _rows(self, pred: Column | None) -> DataFrame:
        """The live rows ``pred`` keeps, as a DataFrame."""
        return self._live() if pred is None else self._live().filter(pred)

    def _ranked(
        self,
        queries: DataFrame,
        k: int,
        *,
        filter: dict | None = None,
        threshold: float | None = None,
        n_probe: int | None = None,
        search_recent: bool = True,
        search_historical: bool = True,
    ) -> DataFrame:
        """The search plan over a DataFrame of queries: (query_id, id,
        distance, score), <= k rows per query — ``IVFIndex.search_bulk``
        or ``knn_bulk`` over the candidate rows (a bounded query set
        is collected once by their ``knn._driver_queries`` check).
        ``threshold`` keeps score >= threshold."""
        rows = self._rows(self._predicate(filter, search_recent, search_historical))
        n_probe = self._probe_width(k, filter, n_probe)
        if n_probe is None:
            res = knn_bulk(rows, queries, k, metric="l2", id_col="id", vector_col="vector")
        else:
            res = self._index.search_bulk(rows, queries, k, n_probe=n_probe)
        res = res.withColumn("score", D.similarity_score("distance"))
        return res if threshold is None else res.filter(F.col("score") >= threshold)

    def _fits(self, rows: int) -> bool:
        """Whether ``rows`` rows fit ``_DRIVER_RANK_MAX_BYTES``: their
        float32 vectors plus a per-row allowance for the id, metadata, ts
        and cluster."""
        return rows * (self._dim * 4 + 64) <= _DRIVER_RANK_MAX_BYTES

    @property
    def _row_count(self) -> int | None:
        """The session table's row count, live and soft-deleted rows both:
        the rows ``_HeldRows`` holds.  None while either count is unknown."""
        if self._held is not None:
            return self._held.rows.num_rows
        if self._live_count is None or self._dead_count is None:
            return None
        return self._live_count + self._dead_count

    def _ranks_on_driver(self) -> bool:
        """Whether the session holds its rows on the driver (``_HeldRows``)
        and ranks point searches there, instead of in ``partial_knn``'s
        Python job.  Decided with no job, from what the session keeps: all
        its rows, soft-deleted ones included, must ``_fit``.  An uncounted
        table (a bulk load before train_index) keeps ``partial_knn``."""
        rows = self._row_count
        if rows is None or self._dim is None:
            return False
        return self._fits(rows)

    def _held_keep(
        self, filter: dict | None, search_recent: bool, search_historical: bool
    ) -> np.ndarray:
        """The held rows ``_predicate`` keeps among the live ones, as a
        mask over ``_HeldRows.rows``, evaluated on the driver with no py4j
        call: the recency flags against the cutoff read as the instant
        ``F.lit(cutoff)`` stands for (as get_stats reads it), and the filter
        lowered to Arrow by the rules ``compile_filter`` lowers to a Column
        (``filters.filter_mask``), so both mean what they mean in
        ``_ranked``."""
        rows = self._held.rows
        keep = self._held.alive
        if not (search_recent and search_historical):
            ts = rows.column("ts")
            cutoff = pa.scalar(
                T.TimestampType().toInternal(_utcnow() - _dt.timedelta(days=RECENCY_DAYS)), ts.type
            )
            if not search_recent:
                keep = keep & pc.less(ts, cutoff).fill_null(False).to_numpy(zero_copy_only=False)
            if not search_historical:
                keep = keep & pc.greater_equal(ts, cutoff).fill_null(False).to_numpy(zero_copy_only=False)
        if filter is not None:
            keep = keep & filter_mask(filter, self._held.schema, rows, metadata_col="metadata")
        return keep

    def _held_rows(
        self,
        filter: dict | None,
        search_recent: bool,
        search_historical: bool,
        probes: dict[int, np.ndarray] | None,
    ) -> tuple[np.ndarray, list[tuple[int, int, int]] | None]:
        """The positions in the held rows of the live rows the search's
        predicate keeps (``_held_keep``), and None; with ``probes``, only
        those in the probed clusters' runs of the block index, cluster by
        cluster, and the ``(cluster id, start, end)`` run of each among the
        positions (``_HeldRows.probed``).  A session whose rows are not
        held yet pulls them with one JVM-only ``toArrow()``; after that no
        search makes a py4j call."""
        if self._held is None:
            self._held = _HeldRows.read(self._table)
        keep = self._held_keep(filter, search_recent, search_historical)
        if probes is None:
            return np.flatnonzero(keep), None
        return self._held.probed(keep, probes)

    def _search_points(
        self,
        queries: list[tuple[str, list[float]]],
        k: int,
        *,
        filter: dict | None = None,
        threshold: float | None = None,
        n_probe: int | None = None,
        search_recent: bool = True,
        search_historical: bool = True,
        include_vectors: bool = False,
    ) -> dict[str, list[dict]]:
        """The search of driver-held queries: at most ONE Spark job.

        The candidate rows (on the IVF path only the probed
        clusters, the probes ranked here by ``IVFIndex.probes_by_cluster``)
        are ranked with the metadata (and vector) taken from the ranked
        rows themselves, in one of two places:

        - a small live table (``_ranks_on_driver``) is ranked on the
          driver from the block index of the rows the session holds
          (``_HeldRows.blocks``): the predicate's mask picks row positions,
          on the IVF path only in the probed clusters' runs
          (``_held_rows``); their float32 vectors are ranked in float64,
          one probed cluster at a time, and merged before any column is
          taken, so only the kept rows' columns are taken from Arrow
          (``_HeldRows.first_k``).  The first search of a table version
          pulls the rows with one JVM-only Arrow collect if they are not
          held, and builds the index; later ones run no Spark job;
        - a larger one stays on the executors: the queries are broadcast
          into ``partial_knn``, one map-only Arrow pass that emits <= k
          rows per (query, batch), collected as Arrow.

        Both rank with the same kernel (``knn._batch_topk_rows``, per
        batch in ``knn._topk_batch`` on the executors), and one
        vectorized merge on the driver (``topk.first_k_per_query``) keeps
        the first k of each query by (round(distance, 6), id) — rounded as
        Spark's ``round``, the key of ``topk_per_query`` — then applies
        ``threshold``.  Rows equal those of ``_ranked`` over the same
        queries."""
        for _, vec in queries:
            if self._dim is not None and len(vec) != self._dim:
                raise VectorDbError(
                    f"query dimension {len(vec)} != index dimension {self._dim}"
                )
        qids = [qid for qid, _ in queries]
        qids_a = pa.array(qids, pa.string())
        # through float32, as an array<float> query column would hold them
        Q = np.asarray(
            [[float(x) for x in vec] for _, vec in queries], dtype=np.float32
        ).astype(np.float64)
        n_probe = self._probe_width(k, filter, n_probe)
        probes = (
            None if n_probe is None else self._index.probes_by_cluster(Q, n_probe)
        )
        carry = ["metadata"] + (["vector"] if include_vectors else [])
        if self._ranks_on_driver():
            pos, runs = self._held_rows(filter, search_recent, search_historical, probes)
            kept = self._held.first_k(pos, runs, qids_a, Q, k, probes, carry)
        else:
            self._drop_held()
            pred = self._predicate(filter, search_recent, search_historical)
            ranked = partial_knn(
                self._rows(pred), qids, Q, T.StringType(), k, probes=probes, carry=carry
            ).toArrow()
            kept = _first_k_rows(ranked, qids_a, k)
        # the carried columns of the kept rows as Spark Rows, exactly what
        # a collect of them returns
        carried = ArrowTableToRowsConversion.convert(
            kept.select(carry), T.StructType([self._table_schema[c] for c in carry])
        )
        out: dict[str, list[dict]] = {qid: [] for qid in qids}
        for qid, i, d, extra in zip(
            kept.column("query_id").to_pylist(),
            kept.column("id").to_pylist(),
            kept.column("distance").to_pylist(),
            carried,
        ):
            # the score of D.similarity_score, in the same double arithmetic
            r = {"id": i, "distance": d, "score": 1.0 / (1.0 + d)}
            r.update(extra.asDict())
            if threshold is None or r["score"] >= threshold:
                out[qid].append(_result_item(r, include_vectors))
        return out

    def search(
        self,
        query_vector: list[float],
        k: int = 10,
        threshold: float = 0.0,  # Node default (session.rs:225-227)
        filter: dict | None = None,
        include_vectors: bool = False,
        search_recent: bool = True,
        search_historical: bool = True,
        n_probe: int | None = None,
        diversify: float | None = None,
    ) -> list[dict]:
        """Point search: the one-query case of ``_search_points`` (at most
        one Spark job), memoized in the query-result cache until the next
        mutation.

        ``diversify=lam`` (0..1] re-ranks with MMR (operators/
        scoring.py:mmr_rerank semantics): the engine fetches 3k
        candidates and greedily trades relevance against redundancy;
        lam=1.0 returns the plain relevance order.  The MMR pass runs
        over the <= 3k already-collected candidate rows."""
        if diversify is not None:
            if not (0.0 < diversify <= 1.0):
                raise VectorDbError("diversify must be in (0, 1]")
            base = self.search(
                query_vector, k=3 * k, threshold=threshold, filter=filter,
                include_vectors=True, search_recent=search_recent,
                search_historical=search_historical, n_probe=n_probe,
            )
            out = _mmr_select(base, k, diversify)
            if not include_vectors:
                for item in out:
                    item.pop("vector", None)
            return out
        if self._empty:
            return []
        cache_key = QueryResultCache.key(
            [float(x) for x in query_vector], k,
            extra=json.dumps(
                [threshold, filter, include_vectors, search_recent,
                 search_historical, n_probe],
                sort_keys=True, default=str,
            ),
        )
        cached = self._cache.get(cache_key)
        if cached is not None:
            return cached
        out = self._search_points(
            [("q0", query_vector)], k,
            filter=filter, threshold=threshold, n_probe=n_probe,
            search_recent=search_recent, search_historical=search_historical,
            include_vectors=include_vectors,
        )["q0"]
        self._cache.put(cache_key, out)
        return out

    def search_batch(
        self,
        queries: list[dict],
        k: int = 10,
        threshold: float = 0.0,
        filter: dict | None = None,
    ) -> dict[str, list[dict]]:
        """Bulk multi-query search: ``_search_points`` run ONCE for the
        whole query batch — at most one Spark job, not a per-query round
        trip (the reference has no batch search; its clients loop over
        session.search).

        `queries`: [{"id": qid, "vector": [...]}, ...]
        Returns {qid: [results sorted by ascending distance]}.
        """
        qids = [str(q["id"]) for q in queries]
        if self._empty or not queries:
            return {qid: [] for qid in qids}
        return self._search_points(
            [(qid, q["vector"]) for qid, q in zip(qids, queries)], k,
            filter=filter, threshold=threshold,
        )

    def search_dataframe(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int | None = None,
        filter: dict | None = None,
        query_id_col: str = "query_id",
        query_vector_col: str = "vector",
    ) -> DataFrame:
        """DataFrame -> DataFrame bulk search — the pipeline surface: it
        runs ``_ranked`` over the same candidate rows search() ranks
        and returns a DataFrame of (query_id, id, distance, score), <= k
        rows per query, the same rows search_batch returns.  A bounded
        query set is collected once and merged on the driver; a larger
        one stays uncollected in a cogroup — the two-big-tables
        similarity join a 100 TB corpus-vs-corpus job needs."""
        if self._empty:
            raise VectorDbError("session has no vectors")
        qdf = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vector_col).alias("vector"),
        )
        return self._ranked(qdf, k, filter=filter, n_probe=n_probe)

    # ------------------------------------------------------------------ get

    def dataframe(self) -> DataFrame | None:
        """The session's backing table (id, vector, metadata, ts, deleted)
        — the Spark-native export surface; None before any insert."""
        return None if self._empty else self._df.drop("cluster_id")

    def get_vector(self, vector_id: str) -> dict | None:
        rows = self._live_rows([str(vector_id)], "vector", "metadata")
        if not rows:
            return None
        r = rows[0]
        return {
            "id": r["id"],
            "vector": list(r["vector"]),
            "metadata": _row_to_plain(r["metadata"]) if r["metadata"] is not None else None,
        }

    # --------------------------------------------------------------- delete

    def delete_vector(self, vector_id: str) -> None:
        res = self.batch_delete([vector_id])
        if res["failed"]:
            raise VectorDbError(res["errors"][0])

    def batch_delete(self, vector_ids: list[str]) -> dict:
        """Soft-delete a batch with per-id stats (hybrid/core.rs:968-986
        returns batch stats in ONE call) — one `isin` existence probe plus
        one column rewrite, never a per-id driver loop: at 10k ids the old
        loop was 10k Spark jobs and an O(N)-deep plan."""
        ids = [str(v) for v in vector_ids]
        live = {r["id"] for r in self._live_rows(ids)}
        hit: set[str] = set()
        errors: list[str] = []
        for vid in ids:
            # a duplicate id in the batch fails on its second occurrence,
            # exactly as the sequential reference loop would
            if vid in live and vid not in hit:
                hit.add(vid)
            else:
                errors.append(f"vector not found: {vid!r}")
        if hit and self._held is not None:
            self._commit_held(
                self._held.flagged(self._held.live_mask(hit)),
                "Deleted",
                sorted(hit),
                live_delta=-len(hit),
            )
        elif hit:
            self._commit(
                self._df.withColumn(
                    "deleted",
                    F.when(F.col("id").isin(sorted(hit)), F.lit(True)).otherwise(
                        F.col("deleted")
                    ),
                ),
                "Deleted",
                sorted(hit),
                live_delta=-len(hit),
                dead_delta=len(hit),
            )
        return {"successful": len(hit), "failed": len(errors), "errors": errors}

    def migrate_aged(
        self,
        max_per_run: int = 100,
        age_days: int = RECENCY_DAYS,
        now: _dt.datetime | None = None,
    ) -> dict:
        """Batch-migrate aged rows to the historical tier
        (hybrid/core.rs:551-649; its batch_size=100 default kept).

        Selection: live rows older than the cutoff not already
        historical, OLDEST first (insertion-age order, as the reference
        drains its HNSW side).  One bounded-id column rewrite + one
        `Migrated` event per row.  Search semantics are UNCHANGED — the
        age predicate is evaluated at query time regardless (SURVEY §2
        row 39) — so `tier` is purely the physical-layout marker that
        save()/compaction uses; a lagging scheduler can never change a
        query result.  Returns {migrated, remaining_aged}.
        """
        if self._empty:
            return {"migrated": 0, "remaining_aged": 0}
        now = now or _utcnow()
        cutoff = now - _dt.timedelta(days=age_days)
        if "tier" not in self._df.columns:
            self._df = self._df.withColumn("tier", F.lit(None).cast("string"))
        aged = self._df.filter(
            ~F.col("deleted")
            & (F.col("ts") < F.lit(cutoff))
            & (F.coalesce(F.col("tier"), F.lit("recent")) != F.lit("historical"))
        )
        n_aged = aged.count()
        batch = sorted(
            r["id"]
            for r in aged.orderBy(F.col("ts").asc(), F.col("id").asc())
            .select("id")
            .limit(int(max_per_run))
            .collect()
        )
        if batch:
            self._commit(
                self._df.withColumn(
                    "tier",
                    F.when(F.col("id").isin(batch), F.lit("historical")).otherwise(
                        F.col("tier")
                    ),
                ),
                "Migrated",
                batch,
                now,
            )
        return {"migrated": len(batch), "remaining_aged": n_aged - len(batch)}

    def delete_by_metadata(self, filter: dict, return_ids: bool = True) -> dict:
        """Soft-delete all live rows matching the filter; returns
        {deletedCount, deletedIds} with USER ids (session.rs:489-553).

        ``return_ids=True`` (default, the reference's contract) collects
        every matching id to the driver — fine at the session API's
        point-mutation scale, UNBOUNDED for a non-selective filter over
        a 100 TB table.  ``return_ids=False`` is the scale-safe mode:
        one distributed count, no id materialization ({deletedCount}
        only), and the per-id mutation-log entries are skipped for the
        same reason (the log is driver-side by design; use
        :meth:`deleted_ids` — a DataFrame, never collected — to feed a
        distributed audit sink instead)."""
        if self._empty:
            return (
                {"deletedCount": 0, "deletedIds": []}
                if return_ids else {"deletedCount": 0}
            )
        if self._held is not None:
            held = self._held
            hit = self._held_keep(filter, True, True)
            ids = sorted(held.rows.column("id").filter(hit).to_pylist()) if return_ids else []
            n = int(hit.sum())
            self._commit_held(held.flagged(hit), "Deleted", ids, live_delta=-n)
        else:
            pred = compile_filter(filter, self._df.schema, metadata_col="metadata")
            match = pred & ~F.col("deleted")
            if return_ids:
                ids = sorted(
                    r["id"] for r in self._df.filter(match).select("id").collect()
                )
                n = len(ids)
            else:
                ids, n = [], self._df.filter(match).count()
            self._commit(
                self._df.withColumn(
                    "deleted", F.when(match, F.lit(True)).otherwise(F.col("deleted"))
                ),
                "Deleted",
                ids,
                live_delta=-n,
                dead_delta=n,
            )
        if return_ids:
            return {"deletedCount": n, "deletedIds": ids}
        return {"deletedCount": n}

    def deleted_ids(self) -> DataFrame:
        """All soft-deleted ids as a DataFrame (id ascending) — the
        scale-safe companion to ``delete_by_metadata(return_ids=False)``:
        write it to a sink or join it downstream without ever
        collecting."""
        if self._empty:
            schema = T.StructType([T.StructField("id", T.StringType(), False)])
            return self.spark.createDataFrame([], schema)
        return self._df.filter(F.col("deleted")).select("id").orderBy("id")

    # --------------------------------------------------------------- update

    def update_metadata(self, vector_id: str, metadata: dict | None) -> None:
        """FULL REPLACE of metadata; vector untouched (session.rs:581-632)."""
        if self._schema is not None:
            # single-update path surfaces schema violations as exceptions
            self._schema.validate_metadata(metadata)
        res = self.batch_update_metadata([(str(vector_id), metadata)])
        if res["failed"]:
            raise VectorDbError(res["errors"][0])

    def batch_update_metadata(self, updates: list[tuple[str, dict | None]]) -> dict:
        """FULL-REPLACE metadata for a batch of ids in ONE pass
        (session.rs:581-632 is per-id; hybrid/core.rs:968-986 is the
        batch-stats shape): the touched live rows are replaced by a batch
        of the same rows with the new metadata, which keeps each row's
        vector, ts and cluster.  Over held rows that batch is taken from
        them and no job runs; otherwise one bounded Arrow collect of the
        touched rows, one anti-filter and one union — instead of N driver
        round-trips each growing the plan."""
        errors: list[str] = []
        good: list[str] = []  # the id of each valid position
        want: dict[str, dict | None] = {}
        for vid, md in ((str(i), m) for i, m in updates):
            try:
                _check_metadata(vid, md)
                if self._schema is not None:
                    self._schema.validate_metadata(md)
            except ValueError as e:
                errors.append(str(e))
                continue
            good.append(vid)
            want[vid] = md  # duplicate id: last update wins, as sequentially
        # the touched live rows, their metadata still the old: a write batch
        # of the table's columns (``tier`` too, after migrate_aged)
        hit = old = None
        if self._held is not None:
            hit = self._held.live_mask(want)
            old = self._held.rows.filter(hit)
        elif self._table is not None and want:
            old = (
                self._table.filter(F.col("id").isin(sorted(want)) & ~F.col("deleted"))
                .select(*self._batch_columns())
                .toArrow()
            )
        live = set() if old is None else set(old.column("id").to_pylist())
        # per-position stats: every occurrence of a live id succeeds (the
        # sequential reference loop would re-update the still-live row)
        successful = sum(1 for vid in good if vid in live)
        errors.extend(f"vector not found: {vid!r}" for vid in good if vid not in live)
        if live:
            touched = sorted(live)
            mds = [want[v] for v in old.column("id").to_pylist()]
            md = None if hit is None else self._held_metadata(mds)
            if md is not None:
                # the held rows whole, only their metadata replaced
                i = old.schema.get_field_index("metadata")
                nxt = self._held.appended(
                    old.set_column(i, old.schema.field(i), md), self._held.schema, drop=hit
                )
            else:
                texts = [None if m is None else json.dumps(m) for m in mds]
                table = old.select(self._batch_columns()).set_column(
                    4, "metadata", pa.array(texts, pa.string())
                )
                batch = self._parsed_batch(table)
                nxt = (
                    None if hit is None
                    else self._held.appended(self._held_batch(batch, table), batch.schema, drop=hit)
                )
            if nxt is not None:
                self._commit_held(nxt, "Updated", touched)
            else:
                rest = self._df.filter(~(F.col("id").isin(touched) & ~F.col("deleted")))
                self._commit(
                    rest.unionByName(batch.coalesce(1), allowMissingColumns=True),
                    "Updated",
                    touched,
                )
        return {"successful": successful, "failed": len(updates) - successful, "errors": errors}

    # --------------------------------------------------------------- vacuum

    def vacuum(self) -> dict:
        """Physically remove soft-deleted rows (hybrid/core.rs:989-1011).

        Held rows are compacted on the driver, and the session table's
        base becomes a local relation of the live rows.  Otherwise the
        table's lineage is computed once: one aggregation counts both
        sides while it caches the whole table, and the live rows are
        cached from those blocks and become the table.  The whole-table
        cache and the cached table the new one replaces are unpersisted."""
        if self._empty:
            return {"removed": 0, "remaining": 0}
        self._cache.invalidate()
        if self._held is not None:
            live = self._held.live_count
            removed = self._held.rows.num_rows - live
            self._held = self._held.vacuumed()
            self._replace_cached(None)
            self._live_count = live
            return {"removed": removed, "remaining": live}
        whole = self._df.persist()
        counts = whole.agg(
            F.count(F.when(F.col("deleted"), 1)).alias("removed"),
            F.count(F.when(~F.col("deleted"), 1)).alias("remaining"),
        ).collect()[0]
        live = whole.filter(~F.col("deleted")).persist()
        live.count()
        whole.unpersist()
        self._replace_cached(live)
        self._df = live
        self._live_count, self._dead_count = counts["remaining"], 0
        return {"removed": counts["removed"], "remaining": counts["remaining"]}

    # ---------------------------------------------------------------- stats

    def get_stats(self) -> dict:
        """Counts + age stats (hybrid/core.rs:694-756, session.rs:699-721):
        from held rows on the driver, else one aggregation."""
        if self._empty:
            return {
                "vectorCount": 0, "deletedCount": 0, "recentCount": 0,
                "historicalCount": 0, "avgAgeMs": 0.0, "dimension": self._dim,
            }
        cutoff = _utcnow() - _dt.timedelta(days=RECENCY_DAYS)
        now = _utcnow()
        if self._held is not None:
            held = self._held
            live = held.live_count
            # the instants F.lit(cutoff) and F.lit(now) stand for
            ts = pc.cast(held.rows.column("ts").filter(pa.array(held.alive)), pa.int64()).to_numpy()
            as_ts = T.TimestampType().toInternal
            recent = int(np.count_nonzero(ts >= as_ts(cutoff)))
            ages = (as_ts(now) / 1e6 - ts / 1e6) * 1000.0
            return {
                "vectorCount": live,
                "deletedCount": held.rows.num_rows - live,
                "recentCount": recent,
                "historicalCount": live - recent,
                "avgAgeMs": float(ages.mean()) if len(ages) else 0.0,
                "dimension": self._dim,
            }
        row = self._df.agg(
            F.count(F.when(~F.col("deleted"), 1)).alias("live"),
            F.count(F.when(F.col("deleted"), 1)).alias("dead"),
            F.count(F.when(~F.col("deleted") & (F.col("ts") >= F.lit(cutoff)), 1)).alias("recent"),
            F.avg(
                F.when(
                    ~F.col("deleted"),
                    (F.lit(now).cast("double") - F.col("ts").cast("double")) * 1000.0,
                )
            ).alias("avg_age_ms"),
        ).collect()[0]
        return {
            "vectorCount": row["live"],
            "deletedCount": row["dead"],
            "recentCount": row["recent"],
            "historicalCount": row["live"] - row["recent"],
            "avgAgeMs": float(row["avg_age_ms"] or 0.0),
            "dimension": self._dim,
        }

    def memory_usage(self, include_metadata: bool = False) -> dict:
        """Byte estimates by component — the reference's memory_stats
        (hnsw/operations.rs:274-304, ivf/operations.rs:291-327; the REST
        StatisticsResponse at rest.rs:679-693 is a TODO returning zeros
        there, populated for real here).  Estimates, not JVM
        measurements (Spark's true accounting is the UI / task metrics):
        vectors at float32 storage width, IVF at centroid width,
        hnsw_bytes 0 (the session routes ANN through IVF; partition-local
        HNSW graphs built via operators/hnsw.py report their own
        graph_stats).  ``include_metadata=True`` runs one extra
        aggregation for the serialized-metadata footprint."""
        s = self.get_stats()
        dim = self._dim or 0
        vector_bytes = s["vectorCount"] * dim * 4
        ivf_bytes = (
            self._index.n_clusters * dim * 4
            if self._clustered
            else 0
        )
        md_bytes = 0
        if include_metadata and self._df is not None:
            md_t = self._df.schema["metadata"].dataType
            md_col = (
                F.col("metadata")
                if isinstance(md_t, T.StringType)
                else F.to_json("metadata")
            )
            if not (isinstance(md_t, T.StructType) and not md_t.fields):
                md_bytes = int(
                    self._df.filter(~F.col("deleted"))
                    .agg(F.sum(F.length(md_col)))
                    .collect()[0][0]
                    or 0
                )
        return {
            "total_bytes": vector_bytes + ivf_bytes + md_bytes,
            "vector_bytes": vector_bytes,
            "ivf_bytes": ivf_bytes,
            "hnsw_bytes": 0,
            "metadata_bytes": md_bytes,
        }

    def deletion_stats(self) -> dict:
        s = self.get_stats()
        return {"deleted": s["deletedCount"], "active": s["vectorCount"]}

    # --------------------------------------------------------------- schema

    def set_schema(self, schema_json: dict) -> None:
        self._schema = MetadataSchema.from_json(schema_json)

    def get_schema(self) -> dict | None:
        return self._schema.to_json() if self._schema else None

    # ---------------------------------------------------------------- index

    def train_index(self, n_clusters: int = 16, **fit_kw) -> None:
        if self._empty:
            raise VectorDbError("nothing to train on")
        # a new index probes other clusters: no answer of the old one stands
        self._cache.invalidate()
        self._index = IVFIndex.fit(self._live(), n_clusters=n_clusters, **fit_kw)
        base = self._df.drop("cluster_id")
        if not self._clustered:
            self._df = base
            return
        # the one full-table assignment: from here on every insert is
        # assigned as it is appended (ivf/core.rs:431-455), so the table
        # stays clustered and this cache serves every later pass over it
        clustered = self._index.assign(base).cache()
        self._replace_cached(clustered)
        self._df = clustered
        # the live count, kept by every mutation or seen whole by the fit,
        # and the soft-deleted count every mutation keeps: all the rows
        # the pull would hold
        live = self._live_count if self._live_count is not None else self._index.row_count
        rows = None if live is None or self._dead_count is None else live + self._dead_count
        if rows is not None and self._fits(rows):
            # one pull materializes the cache and fills the held rows
            self._held = _HeldRows.read(clustered)
            self._live_count = self._held.live_count
        else:
            self._live_count = clustered.filter(~F.col("deleted")).count()

    # ---------------------------------------------------------- persistence

    def save(self, path: str, codec: str = "snappy", checksums: bool = False) -> str:
        """Partitioned-parquet save + manifest + schema sidecar
        (SURVEY §2.7: chunk files/manifest/CBOR all collapse into
        parquet; ``codec="zstd"`` is the CBOR+zstd-equivalent archival
        setting, SURVEY §2 row 71).  ``checksums=True`` adds a sha256
        manifest of every written file (sources/storage.py) which
        verify_integrity then enforces.

        The table is written as it stands: with a trained index it already
        carries ``cluster_id``, and it is written ``partitionBy`` that
        column, one file per cluster directory.  Held rows are written by
        pyarrow in the layout Spark writes (``_write_held``) and counted on
        the driver; otherwise Spark writes the table, and the manifest's
        two counts come from one aggregation."""
        if self._empty:
            raise VectorDbError("empty session")
        os.makedirs(path, exist_ok=True)
        vectors = os.path.join(path, "vectors")
        if self._clustered:
            self._index.save(path)
        schema = self._table_schema
        md_t = schema["metadata"].dataType
        if isinstance(md_t, T.StructType) and not md_t.fields:
            # parquet rejects empty nested schemas; a metadata-less session
            # persists the column as a null JSON string
            schema = T.StructType(
                [T.StructField("metadata", T.StringType()) if f.name == "metadata" else f for f in schema]
            )
        if self._held is not None and codec.lower() in _CODEC_SUFFIX:
            # the files rewritten may be those the rows' base reads (a save
            # to the path the session was loaded from): move off them first
            self._held = self._held.rebased()
            self._replace_cached(None)
            self._write_held(vectors, codec.lower(), schema)
            live = self._held.live_count
            counts = {"live": live, "dead": self._held.rows.num_rows - live}
        else:
            counts = self._write_table(vectors, codec, schema)
        manifest = {
            "version": FORMAT_VERSION,
            "session_id": self.session_id,
            "dimension": self._dim,
            "total_vectors": counts["live"],
            "deleted_vectors": counts["dead"],
            "trained": self._clustered,
            # the written columns, so load reads them with no inference job
            "schema": schema.jsonValue(),
        }
        with open(os.path.join(path, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        if self._schema is not None:
            with open(os.path.join(path, "schema.json"), "w") as f:
                json.dump(self._schema.to_json(), f)
        if checksums:
            from fabstir_vectordb_spark.sources.storage import write_checksums

            write_checksums(path)
        return self.session_id

    def _write_held(self, path: str, codec: str, schema: T.StructType) -> None:
        """The held rows as Spark writes the session table of ``schema``:
        hive ``cluster_id=N`` directories with one file each when trained,
        the codec in each file name (``part-…-c000.zstd.parquet``), a
        ``_SUCCESS`` marker.  Spark reads it back with the schema and rows
        of Spark's own write."""
        # one row group per file, as Spark writes, not one per appended batch
        t = self._held.rows.combine_chunks()
        if schema != self._held.schema:
            i = t.schema.get_field_index("metadata")
            t = t.set_column(i, "metadata", pa.nulls(t.num_rows, pa.string()))
        shutil.rmtree(path, ignore_errors=True)
        pq.write_to_dataset(
            t,
            path,
            partition_cols=["cluster_id"] if self._clustered else None,
            basename_template=f"part-{{i}}-{uuid.uuid4()}-c000{_CODEC_SUFFIX[codec]}.parquet",
            compression="none" if codec == "uncompressed" else codec,
            # float vectors do not dictionary-encode, and pyarrow keeps the
            # dictionary page it gave up on: 1.5 bytes a vector byte, not 1.0
            use_dictionary=False,
        )
        open(os.path.join(path, "_SUCCESS"), "w").close()

    def _write_table(self, path: str, codec: str, schema: T.StructType) -> dict:
        """Spark's write of the session table as ``schema``; returns its
        live and soft-deleted counts."""
        df = self._df
        if schema != df.schema:  # a metadata-less session's null strings
            df = df.withColumn("metadata", F.lit(None).cast("string"))
        if self._clustered:
            df.repartition("cluster_id").write.mode("overwrite").option(
                "compression", codec
            ).partitionBy("cluster_id").parquet(path)
        else:
            df.write.mode("overwrite").option("compression", codec).parquet(path)
        return self._df.agg(
            F.count(F.when(~F.col("deleted"), 1)).alias("live"),
            F.count(F.when(F.col("deleted"), 1)).alias("dead"),
        ).collect()[0].asDict()

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "VectorDbSession":
        """Open a saved session: its table as saved (with ``cluster_id``
        when it was trained), its index, its schema, and its live count
        from the manifest (nothing is counted or re-assigned).  The table
        is a lazy ``spark.read.parquet``; when the manifest's live and
        soft-deleted counts together fit the cap, pyarrow reads the files
        into the held rows too."""
        with open(os.path.join(path, "manifest.json")) as f:
            manifest = json.load(f)
        if manifest.get("version") != FORMAT_VERSION:
            raise VectorDbError(
                f"incompatible format version {manifest.get('version')} != {FORMAT_VERSION}"
            )
        s = cls(spark, session_id=manifest.get("session_id"))
        vectors = os.path.join(path, "vectors")
        schema = manifest.get("schema")
        reader = spark.read if schema is None else spark.read.schema(T.StructType.fromJson(schema))
        s._df = reader.parquet(vectors)
        s._dim = manifest.get("dimension")
        s._live_count = manifest["total_vectors"]
        s._dead_count = manifest.get("deleted_vectors")
        if s._ranks_on_driver():
            s._held = _HeldRows.read_files(s._table, vectors)
        schema_path = os.path.join(path, "schema.json")
        if os.path.exists(schema_path):
            with open(schema_path) as f:
                s._schema = MetadataSchema.from_json(json.load(f))
        if manifest.get("trained"):
            # the saved cluster_id came from this same index: the loaded
            # table is the clustered table, so a probe reads only its
            # clusters' directories and nothing is re-assigned
            s._index = IVFIndex.load(path)
        return s


def verify_integrity(spark: SparkSession, path: str) -> dict:
    """Expected-vs-found check of a saved session
    (hnsw/persistence.rs:307-349: manifest counts vs actual chunks).
    Parquet supplies per-file footer validation; this verifies the
    manifest's row counts against the table, plus file-level sha256
    integrity when the save recorded it (save(checksums=True)).  The
    checksum pass runs FIRST: a byte-corrupted data file is reported as
    a finding, not surfaced as a reader exception."""
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    out = {
        "ok": manifest.get("version") == FORMAT_VERSION,
        "expected_live": manifest.get("total_vectors"),
        "found_live": None,
        "expected_deleted": manifest.get("deleted_vectors"),
        "found_deleted": None,
        "version": manifest.get("version"),
    }
    from fabstir_vectordb_spark.sources.storage import CHECKSUM_FILE, verify_checksums

    if os.path.exists(os.path.join(path, CHECKSUM_FILE)):
        cs = verify_checksums(path)
        out["checksums"] = cs
        if not cs["ok"]:
            out["ok"] = False
            return out  # don't hand corrupt files to the reader
    row = spark.read.parquet(os.path.join(path, "vectors")).agg(
        F.count(F.when(~F.col("deleted"), 1)).alias("live"),
        F.count(F.when(F.col("deleted"), 1)).alias("dead"),
    ).first()
    out["found_live"], out["found_deleted"] = row["live"], row["dead"]
    out["ok"] = (
        out["ok"]
        and row["live"] == manifest.get("total_vectors")
        and row["dead"] == manifest.get("deleted_vectors")
    )
    return out


# -------------------------------------------------------------------- utils

def _check_metadata(vid: str, md: Any) -> None:
    """A row's metadata is a JSON object or absent."""
    if md is not None and not isinstance(md, dict):
        raise VectorDbError(
            f"metadata for id {vid!r} must be a dict or None, got {type(md).__name__}"
        )


def _infer_md_type(spark: SparkSession, texts: list[str]) -> T.StructType:
    """The struct type of a batch's metadata JSON texts, merged across rows
    — Spark's JSON schema inference over the batch as one JSON array.  It
    is resolved while the plan is analyzed: no Spark job."""
    arr = F.lit("[" + ",".join(texts) + "]")
    probe = spark.range(1).select(F.from_json(arr, F.schema_of_json(arr)).alias("m"))
    return probe.schema["m"].dataType.elementType


# the Spark type JSON inference gives a value of each Python kind (an int
# within int64, a finite float); no other kind converts straight
_MD_KINDS = {
    str: T.StringType, bool: T.BooleanType, int: T.LongType, float: T.DoubleType, dict: T.StructType,
}


def _needs_no_inference(dicts: list[dict], md_type: T.StructType, nested: bool = False) -> bool:
    """Whether Spark's parse of these metadata objects (``_parsed_batch``),
    unioned into rows whose metadata has type ``md_type``, keeps that type
    and gives the values ``pa.array(dicts, type=<md_type in Arrow>)``
    gives: every field the objects carry is a field of ``md_type``, has a
    non-null value in some object, and every non-null value has the exact
    Python kind of the field's type (``_MD_KINDS``), an object meeting the
    same test against its struct, where it must carry a field (Spark's
    inference drops a struct no object fills).  This does not infer
    types: anything else — an array, a field only ever null, an int for a
    double, NaN, an int beyond int64, a new field — is left to Spark."""
    types = {f.name: f.dataType for f in md_type}
    values: dict[str, list] = {}
    for d in dicts:
        for k, v in d.items():
            if k not in types:
                return False
            seen = values.setdefault(k, [])
            if v is None:
                continue
            kind = _MD_KINDS.get(type(v))
            if kind is None or not isinstance(types[k], kind):
                return False
            if type(v) is int and not -(1 << 63) <= v < 1 << 63:
                return False
            if type(v) is float and not math.isfinite(v):
                return False
            seen.append(v)
    for k, seen in values.items():
        if not seen:
            return False
        if isinstance(types[k], T.StructType) and not _needs_no_inference(seen, types[k], True):
            return False
    return bool(values) or not nested


def _merge_struct(a: T.StructType, b: T.StructType) -> T.StructType:
    fields = {f.name: f for f in a}
    for f in b:
        if f.name not in fields:
            fields[f.name] = f
    return T.StructType(list(fields.values()))
