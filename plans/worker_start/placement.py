"""Where graph ids land: a hash exchange against direct placement.

For G = 4 and 32 graph ids, prints how many partitions hold a graph and
the most graphs one task holds, under ``repartition(G, "graph_id")``
(Murmur3 hash) and ``repartitionById(G, "graph_id")``.

usage: python plans/worker_start/placement.py
"""
from pyspark.sql import SparkSession, functions as F
s = SparkSession.builder.master("local[4]").config("spark.ui.enabled","false").getOrCreate()
s.sparkContext.setLogLevel("ERROR")
for G in (4, 32):
    df = s.range(G).select(F.col("id").cast("int").alias("graph_id"))
    for name, r in (("repartition", df.repartition(G, "graph_id")), ("repartitionById", df.repartitionById(G, "graph_id"))):
        rows = r.groupBy(F.spark_partition_id().alias("p")).agg(F.sort_array(F.collect_list("graph_id")).alias("g")).collect()
        print(G, name, "partitions holding graphs:", len(rows), "max graphs per task:", max(len(x.g) for x in rows), sorted((x.p, x.g) for x in rows) if G == 4 else "")
