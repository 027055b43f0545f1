"""Count the py4j calls and time each call of a held session's write cycle:
add, delete, update, delete_by_metadata, then a search with a filter not
used before (its first evaluation over the rows the writes moved).

    python3 plans/held_arrow/write_calls.py [CYCLES]

Run from the root of a checkout.  The session is ``session_rw``'s: 2,000
perfbench vectors of 384 dims with their metadata, opened by
``from_dataframe`` and a 32-cluster IVF index, and the mutations are the
workload's own (``gen.crud_ops``, seed 4242): add 200, delete 50, update
50, and a ``delete_by_metadata`` of a (category, year) pair.  A py4j call
is a command sent to the JVM gateway, less the release commands Python's
garbage collector sends.  Prints, per call kind, the median wall ms and
the median, min and max py4j calls over CYCLES cycles (default 12, the
workload's cap).
"""

import datetime as dt
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.getcwd())

from py4j import protocol as proto  # noqa: E402

from perfbench import gen, workloads  # noqa: E402

SEED = 4242


def main(cycles: int) -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    inputs = gen.session_inputs(SEED, workloads.SESSION_N, workloads.SESSION_QUERIES)
    anchor = int(time.time())
    with tempfile.TemporaryDirectory() as work:
        path = os.path.join(work, "corpus.parquet")
        workloads._write_session_corpus(path, inputs.corpus, anchor)
        s = workloads._open_session(spark, path)
        q = inputs.queries[0].tolist()
        s.search(q, k=workloads.K)  # the rows are held from here on

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME
        sent = []

        def recorded(command, *a, **kw):
            if not command.startswith(release):
                sent.append(command)
            return send(command, *a, **kw)

        client.send_command = recorded

        def ingest(op):
            batch = op["corpus"]
            return s.add_vectors([
                {
                    "id": vid,
                    "vector": batch.vectors[j].tolist(),
                    "metadata": batch.metadata(j),
                    "timestamp": dt.datetime.fromtimestamp(
                        anchor - int(batch.age_s[j]), dt.timezone.utc
                    ).replace(tzinfo=None),
                }
                for j, vid in enumerate(op["ids"])
            ])

        calls = {
            "add": ingest,
            "delete": lambda op: s.batch_delete(op["ids"]),
            "update": lambda op: s.batch_update_metadata(list(zip(op["ids"], op["metadata"]))),
            "delete_by_metadata": lambda op: s.delete_by_metadata(op["filter"]),
        }
        stats: dict[str, list[tuple[float, int]]] = {}

        def timed(name, fn):
            sent.clear()
            t0 = time.perf_counter()
            fn()
            stats.setdefault(name, []).append(((time.perf_counter() - t0) * 1e3, len(sent)))

        for i, op in enumerate(gen.crud_ops(SEED, inputs, cycles)):
            timed(op["op"], lambda: calls[op["op"]](op))
            if op["op"] == "delete_by_metadata":
                flt = inputs.filters[(i // 4) % len(inputs.filters)]["filter"]
                timed("filtered_search_after_write",
                      lambda: s.search(inputs.queries[1 + i // 4].tolist(), k=workloads.K, filter=flt))
        client.send_command = send
        assert s._held is not None, "the rows were dropped"
    for name, vals in stats.items():
        ms = [v[0] for v in vals]
        n = [v[1] for v in vals]
        print(f"{name:30s} cycles={len(vals)} p50_ms={statistics.median(ms):8.2f} "
              f"py4j_calls p50={statistics.median(n):g} min={min(n)} max={max(n)}")
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 12)
