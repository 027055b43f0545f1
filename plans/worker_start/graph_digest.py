"""Digest of bulk_ann's HNSW graph, to compare two commits' builds.

Builds the graph perfbench's bulk_ann times (its corpus for --seed, the
1,000-row slice, ``HNSW_SHAPE``) and prints one JSON line: the row count,
the rows per graph and a sha256 over every row sorted by (graph_id, id),
each row's level, neighbor lists, vector and deleted flag included.

usage: python plans/worker_start/graph_digest.py SEED
Run it from the root of a checkout; copy it into a checkout of another
commit to digest that commit's build.
"""
import hashlib
import json
import os
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, os.getcwd())

from perfbench import gen  # noqa: E402
from perfbench import run as prun  # noqa: E402
from perfbench import workloads as W  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

seed = int(sys.argv[1])
work = Path(tempfile.mkdtemp(prefix="graph-digest-"))
spark = prun.start_spark(work)
inputs = gen.bulk_inputs(seed, W.BULK_N, W.BULK_QUERIES)
path = str(work / "c.parquet")
W._write_bulk(path, inputs.corpus, "id")
corpus = spark.read.parquet(path).repartition(spark.sparkContext.defaultParallelism).cache()
_, graph = W._build_hnsw(corpus.filter(F.col("id") < W.BULK_HNSW_N))
t = graph.toArrow().sort_by([("graph_id", "ascending"), ("id", "ascending")])
h = hashlib.sha256()
for row in t.to_pylist():
    h.update(repr(sorted(row.items())).encode())
print(json.dumps({
    "seed": seed,
    "rows": t.num_rows,
    "rows_per_graph": sorted(
        (g, n) for g, n in zip(*[c.to_pylist() for c in t.column("graph_id").value_counts().flatten()])
    ),
    "sha256": h.hexdigest(),
}))
spark.stop()
