"""Plan-metadata helpers shared by operators.

`scan_partitions` answers "how parallel does this DataFrame arrive?"
without paying the full `df.rdd.getNumPartitions()` conversion on every
call: that call builds the physical plan and crosses py4j (~60 ms
measured at sf0.1), and per-search construction re-derives the SAME
select over the same memoized table handle every time.  The analyzed
plan's semanticHash (~15 ms) keys a memo holding the previously probed
count, for the life of the application.

The memo stores plan METADATA (an int), never data or results, and it
can be stale: the key does not see the files behind a path, so after a
parquet path is rewritten mid-application (say from 1 file to 4) a fresh
`spark.read.parquet` of it scans 4 partitions while `scan_partitions`
still returns the memoized 1.  Callers may therefore use the count only
to steer a plan choice whose every branch returns the same rows — the
dedup/text operators' conditional repartition (`dedup._parallelize`) and
the bulk searches' driver-pull caps — never to shape a result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_NPART_MEMO: dict = {}


def scan_partitions(df: DataFrame) -> int:
    try:
        key = (
            df.sparkSession.sparkContext.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
        )
    except Exception:
        return df.rdd.getNumPartitions()
    n = _NPART_MEMO.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _NPART_MEMO[key] = n
    return n
