"""Local replica of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry at a given sf dir and compares
against oracle_sql() via DuckDB: row count, column names, and
order-insensitive values (floats canonicalized via repr).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

import _harness  # puts the checkout's root on sys.path
import __spark_entry__ as entrymod

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canonical(df_pandas):
    cols = sorted(df_pandas.columns)
    df = df_pandas[cols]
    rows = []
    for tup in df.itertuples(index=False):
        rows.append(tuple(repr(v) for v in tup))
    return cols, sorted(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = _harness.session("check_correctness", 16, 16, "16g")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows ({t_spark:.1f}s)")
            continue
        odf = con.execute(oracles[name]).fetchdf()
        scols, srows = canonical(sdf)
        ocols, orows = canonical(odf)
        ok = scols == ocols and srows == orows
        status = "OK " if ok else "FAIL"
        print(f"[{status}] {name}: spark {len(srows)} rows / oracle {len(orows)} rows ({t_spark:.1f}s)")
        if not ok:
            failures += 1
            if scols != ocols:
                print(f"   cols spark={scols} oracle={ocols}")
            else:
                sset, oset = set(srows), set(orows)
                for r in list(sset - oset)[:5]:
                    print(f"   spark-only:  {r}")
                for r in list(oset - sset)[:5]:
                    print(f"   oracle-only: {r}")
    print("correctness:", "PASS" if failures == 0 else f"{failures} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
