"""fabstir_vectordb_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of Fabstir/fabstir-vectordb, re-expressed
Spark-first (DataFrame/SQL/Catalyst/MLlib), plus the LLM-training-data
pipeline operators (dedup, similarity search, text analysis, multimodal
columns) such an engine needs at 100 TB scale.

Design notes (vs the Rust reference, Fabstir/fabstir-vectordb):
- One vectors table (id, vector, metadata, ts, deleted, cluster_id),
  partitioned by cluster_id.  Recent vs historical routing (reference
  src/hybrid/core.rs:357-417) becomes a `ts` predicate.  IVF search is
  partition pruning over that table; HNSW (src/hnsw/core.rs) is a graph
  table of neighbour lists, built and searched per graph in Arrow kernels
  (operators/hnsw.py).
- Filters are compiled from the reference's MongoDB dialect
  (src/core/metadata_filter.rs) into Catalyst Column predicates and pushed
  BELOW ranking — exact, unlike the reference's k*3 oversampling
  (src/hybrid/core.rs:513-549).
- Vector ranking runs in Arrow-batched numpy kernels (mapInArrow /
  applyInArrow), two plans split by the size of the query set: a
  bounded one is collected and broadcast into one map-only partial
  top-k pass whose partial rows merge on the driver (operators/knn.py
  `partial_knn`; a small session holds its live rows on the driver and
  runs the same per-batch body there, with no Spark job once they are
  held), a larger one stays a DataFrame and cogroups with vector blocks.
  Column-expression distances (functions/distance.py) serve SQL and
  per-pair scoring.
"""

import sys
import zipimport

__version__ = "0.1.0"


def _drop_zip_finders() -> None:
    """Inside a Spark task, stop the worker's zip finders from re-reading
    their archives; on the driver, do nothing.

    At the start of every task the Python worker calls
    ``importlib.invalidate_caches()`` (``pyspark.worker_util.
    setup_spark_files``).  On Python 3.11 and 3.12 each cached
    ``zipimport.zipimporter`` then re-reads its archive's whole directory
    (``zipimport._read_directory``; 3.13 makes it lazy): 16 finders over
    ``pyspark.zip`` (1,328 entries, about 9 ms a read, one finder per
    package directory), the py4j zip and the spark-core jar (5,359
    entries, about 28 ms) on the worker path.  That is over 150 ms of
    worker CPU per task alone and 250-290 ms with four tasks at once on
    a 4-core box, the largest part of a no-op Arrow job (272-440 ms
    against 176-182 ms without it).  So this deletes the zip finders from
    ``sys.path_importer_cache`` and puts ``_ReadOnceZip`` in place of
    ``zipimporter`` in ``sys.path_hooks``: the worker's first later
    import of a new top-level module (it imports pandas lazily) recreates
    three finders, and those keep the directory read when they were
    made.  The package is first imported when a worker unpickles one of
    its kernels, so this runs once per worker process.  Imports resolve
    as before: a finder is recreated for a path entry when an import
    next searches it, and loaded modules keep their own loader."""
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    sys.path_hooks[:] = [
        _ReadOnceZip if hook is zipimport.zipimporter else hook for hook in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


class _ReadOnceZip(zipimport.zipimporter):
    """A zip finder that keeps the directory it read when it was made: an
    archive on a worker's path does not change while the worker runs."""

    def invalidate_caches(self):
        pass


_drop_zip_finders()
