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
  `partial_knn`; a small session point search pulls its candidate rows
  to the driver and runs the same per-batch body there, `driver_knn`),
  a larger one stays a DataFrame and cogroups with vector blocks.  Column-expression distances (functions/distance.py)
  serve SQL and per-pair scoring.
"""

__version__ = "0.1.0"
