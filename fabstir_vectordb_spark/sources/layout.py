"""Write-side data layout: Z-ORDER clustering for multi-column scan
pruning.

At 100 TB the dominant query lever is not the plan but the LAYOUT:
parquet scans prune files and row groups by min/max statistics, and
those statistics are only selective if rows with nearby values sit in
the same files.  Sorting by one column makes that column prune
perfectly and every other column not at all; interleaving the bits of
several columns (a Z-order / Morton curve, the technique behind Delta
Lake's ``OPTIMIZE ZORDER BY`` and ClickHouse's ``mortonEncode``)
makes EACH participating column's values locally clustered, so
min/max pruning works on all of them at once — the standard trade:
no column prunes as well as a dedicated sort, every column prunes
far better than random.

``zorder_write`` is the whole recipe: normalize each clustering
column to a ``bits``-wide integer, interleave, range-partition on the
z-value (contiguous curve segments per file), sort within partitions,
write parquet.  Range partitioning + in-file sorting is what turns
curve locality into NARROW per-file min/max ranges on the original
columns — the thing the scan actually prunes on.

Normalization modes:
  minmax    linear scaling between the column's min and max (one
            small agg job at write time).  Right for roughly uniform
            data; a heavy skew wastes curve resolution on the empty
            range.
  quantile  rank-based scaling through ``2^bits`` approximate
            quantile cutpoints (one percentile_approx job): equal row
            mass per curve cell regardless of skew — what Delta's
            range-id pass does.

Layout NEVER changes answers — it only changes which bytes a filtered
scan must touch (pinned by test: z-ordered reads equal the unordered
rows exactly).  ``zorder_stats`` reads the written footers (pyarrow)
and reports, per clustering column, how many files a range predicate
could prune — the honest, engine-independent measure of layout
quality that PERFORMANCE.md's z-order datum reports and
tests/test_layout.py pins.

Reference parity: none (the reference has no storage-layout surface);
extension-axis with sources/vectors.py's writers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["bucketed_write", "zorder_column", "zorder_stats", "zorder_write"]


def _spread_table(k: int, bits: int) -> list[int]:
    """256-entry table: byte b -> b's bits spread k apart (Morton)."""
    out = []
    for b in range(256):
        v = 0
        for i in range(8):
            if b >> i & 1:
                v |= 1 << (i * k)
        out.append(v)
    return out


def zorder_column(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    normalize: str = "minmax",
) -> tuple[DataFrame, dict]:
    """Return (df + ``__z`` long column, per-column normalization
    stats).  ``bits`` per column; ``len(cols) * bits`` must fit the
    63 usable bits of a long.  NULLs map to cell 0 (they sort first,
    clustering together — the useful behavior for pruning).  Columns
    must be numeric or castable to double; k * bits <= 63 enforced.

    The interleave is a byte-at-a-time Morton spread through a
    256-entry literal lookup array — pure column expressions, one
    ``element_at`` per byte per column, whole-stage-codegen friendly;
    no UDF anywhere."""
    k = len(cols)
    if k < 2:
        raise ValueError("zorder needs at least two columns; use a plain "
                         "sort for one")
    if bits < 4 or bits > 24:
        raise ValueError(f"bits must be in [4, 24]; got {bits}")
    if k * bits > 63:
        raise ValueError(
            f"{k} columns x {bits} bits = {k * bits} > 63 usable long "
            "bits; lower bits or cluster fewer columns"
        )
    if normalize not in ("minmax", "quantile"):
        raise ValueError(
            f"normalize must be 'minmax' or 'quantile'; got {normalize!r}"
        )
    if normalize == "quantile" and bits > 10:
        raise ValueError(
            "quantile normalization materializes 2^bits cutpoints as a "
            f"literal array scanned per row; bits={bits} would mean "
            f"{(1 << bits) - 1} cutpoints.  Use bits <= 10 (1023 cells is "
            "plenty of rank resolution) or normalize='minmax'"
        )
    if "__z" in df.columns:
        raise ValueError("column __z already exists")

    cells = (1 << bits) - 1
    stats: dict = {"normalize": normalize, "bits": bits}

    # one agg job for every column's normalization constants — write-
    # time cost, amortized over every future pruned scan
    if normalize == "minmax":
        row = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"mn_{i}")
              for i, c in enumerate(cols)],
            *[F.max(F.col(c).cast("double")).alias(f"mx_{i}")
              for i, c in enumerate(cols)],
        ).first()

        def cell(i: int, c: str) -> Column:
            mn, mx = row[f"mn_{i}"], row[f"mx_{i}"]
            stats[c] = {"min": mn, "max": mx}
            if mn is None or mx is None or mx <= mn:
                return F.lit(0)
            scaled = (F.col(c).cast("double") - F.lit(mn)) / F.lit(mx - mn)
            # guard NULL explicitly: least() SKIPS nulls, so without
            # the when() a NULL value would fall through to the cells
            # cap and cluster at the TOP of the curve instead of cell 0
            return F.when(F.col(c).isNull(), F.lit(0)).otherwise(
                F.least(
                    F.lit(cells),
                    F.floor(scaled * (cells + 1)).cast("long"),
                )
            )
    else:
        qs = [i / (cells + 1) for i in range(1, cells + 1)]
        rows = df.agg(
            *[F.percentile_approx(F.col(c).cast("double"), qs, 10_000)
              .alias(f"q_{i}") for i, c in enumerate(cols)]
        ).first()

        def cell(i: int, c: str) -> Column:
            cuts = rows[f"q_{i}"]
            if cuts is None:
                return F.lit(0)
            stats[c] = {"cutpoints": len(cuts)}
            # rank = number of cutpoints <= value: an O(cells) literal-
            # array reduce per row, JVM-side (no UDF); equal row mass
            # per cell whatever the skew
            arr = F.array(*[F.lit(float(x)) for x in cuts])
            v = F.col(c).cast("double")
            return F.coalesce(
                F.aggregate(
                    arr, F.lit(0),
                    lambda acc, cut: acc + F.when(cut <= v, 1).otherwise(0),
                ).cast("long"),
                F.lit(0),
            )

    table = F.array(*[F.lit(x) for x in _spread_table(k, bits)])

    def spread(e: Column) -> Column:
        # byte-at-a-time Morton spread; bits<=24 => at most 3 bytes
        parts = []
        for byte in range((bits + 7) // 8):
            b = F.shiftright(e, byte * 8).bitwiseAND(F.lit(255))
            # element_at is 1-indexed; each table entry spreads a byte's
            # bits k positions apart, then the whole byte shifts to its
            # interleaved offset
            parts.append(
                F.shiftleft(
                    # cast BEFORE the shift: the table entries fit an
                    # int, but byte offsets >= 2 shift past bit 31
                    F.element_at(table, (b + 1).cast("int")).cast("long"),
                    byte * 8 * k,
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.bitwiseOR(p)
        return out

    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        e = F.coalesce(cell(i, c), F.lit(0)).cast("long")
        z = z.bitwiseOR(F.shiftleft(spread(e), i))
    return df.withColumn("__z", z), stats


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    target_files: int = 64,
    bits: int = 16,
    normalize: str = "minmax",
) -> dict:
    """Z-order ``df`` by ``cols`` and write parquet at ``path``:
    range-partition on the z-value into ``target_files`` contiguous
    curve segments, sort within each, drop the helper column, write.
    Returns the normalization stats.  Range partitioning samples the
    z-values (one extra pass, standard Spark machinery) so files get
    balanced ROW counts even when the curve is unevenly populated."""
    zdf, stats = zorder_column(df, cols, bits=bits, normalize=normalize)
    (
        zdf.repartitionByRange(target_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
    return stats


def zorder_stats(path: str, predicates: dict[str, tuple]) -> dict:
    """Footer-level pruning report: for each ``col -> (lo, hi)`` range
    predicate, how many parquet files under ``path`` could be SKIPPED
    on min/max statistics alone (the same decision a scan makes,
    measured engine-independently from the footers via pyarrow).
    Returns {col: {files: N, prunable: M}}."""
    import glob
    import os

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    out: dict = {}
    for col, (lo, hi) in predicates.items():
        total, prunable = 0, 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            mn = mx = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    mn = None
                    break
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            total += 1
            if mn is not None and (mx < lo or mn > hi):
                prunable += 1
        out[col] = {"files": total, "prunable": prunable}
    return out


def bucketed_write(
    df: DataFrame,
    table_name: str,
    keys: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a BUCKETED table: hash-partitioned into
    ``n_buckets`` files per partition on ``keys`` and sorted within
    buckets — the co-located-join lever.  When BOTH sides of an
    equality join are bucketed on the join keys with the same bucket
    count, Spark's SortMergeJoin reads matching buckets pairwise and
    the plan carries ZERO Exchange (pinned by test); one bucketed side
    still deletes that side's shuffle.  At 100 TB this converts every
    recurring join/groupBy on a stable key (user_id, doc_id) from a
    full network shuffle into a local merge — the write-time sibling
    of :func:`zorder_write`'s scan pruning (z-order clusters what
    scans READ; bucketing pre-partitions what joins MOVE).

    Spark constraints, stated so callers are not surprised:

    - Bucketing is only reachable through the catalog —
      ``saveAsTable`` + ``spark.table(name)``; a path-read
      (``spark.read.parquet``) of the same files sees plain parquet
      and shuffles as usual.  Pass ``path`` to keep the data at an
      external location while registering the table.
    - The hash is Spark's Murmur3 (HIVE-incompatible by design);
      both sides must bucket on the SAME keys and count for the
      exchange-free join (a mismatched count still saves the
      smaller side's shuffle under AQE coalescing in Spark 4).
    - ``sort_cols`` default to ``keys``: sorted buckets also delete
      the SortMergeJoin's per-task sort.
    - Size ``n_buckets`` so each bucket lands near the 128 MB-1 GB
      file sweet spot at your table size; too many buckets = the
      small-files problem, too few = oversized merge tasks.
    """
    if not keys:
        raise ValueError("keys must be non-empty")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1; got {n_buckets}")
    w = (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, keys[0], *keys[1:])
        .sortBy(*(sort_cols or keys))
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)
