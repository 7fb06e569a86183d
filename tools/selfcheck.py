"""Self-check: run every registry query on Spark and on its DuckDB
oracle and compare them with ``perfbench.oracle.compare`` (row count,
column names, pandas dtypes and order-insensitive values) — a local
mirror of the driver's correctness gate.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.oracle import compare  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def connect(sf_dir: str):
    """A DuckDB connection with one view per table of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        # single-file fixtures are plain files; multifile layouts
        # (tools/gen_multifile.py) are directories of part files —
        # glob them so the oracle sees the same rows Spark scans
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from employee_analytics_etl_spark.plans import load_all
    from employee_analytics_etl_spark.session import build_session

    queries, oracle = load_all()
    spark = build_session()
    con = connect(sf_dir)

    names = [n for n in queries if not only or n in only]
    failures = []
    for name in names:
        t0 = time.time()
        try:
            got = queries[name](spark, sf_dir).toPandas()
        except Exception as e:
            print(f"SPARK-ERROR {name}: {str(e).splitlines()[0][:200]}")
            failures.append(name)
            continue
        try:
            want = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"ORACLE-ERROR {name}: {str(e).splitlines()[0][:200]}")
            failures.append(name)
            continue
        problems = compare(got, want)
        if problems:
            print(f"FAIL       {name}: {'; '.join(p[:400] for p in problems)}")
            failures.append(name)
        else:
            print(f"MATCH      {name}: {len(got)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{len(names) - len(failures)}/{len(names)} matched")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
