"""Self-check: run every registry query on Spark AND its DuckDB oracle,
compare row count, column names, and order-insensitive values — a local
mirror of the driver's correctness gate.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, "/root/repo")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # repr keeps full double precision — we demand bit-identity
        return repr(v)
    return repr(v)


def df_key(rows, cols):
    out = []
    for r in rows:
        d = dict(zip(cols, r)) if not hasattr(r, "asDict") else r.asDict()
        out.append(tuple(norm_cell(d[c]) for c in sorted(cols)))
    return sorted(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import duckdb

    from employee_analytics_etl_spark.plans import load_all
    from employee_analytics_etl_spark.session import build_session

    # SPARK_GRAFT_SELFCHECK_PARTS sweeps shuffle parallelism — results
    # must be bit-identical at ANY partition count (the determinism
    # invariant the DECIMAL/total-order/ranking-primitive idioms exist
    # to guarantee). SPARK_GRAFT_SELFCHECK_EXTRA_CONF ("k=v;k=v")
    # sweeps optimizer configuration the same way — e.g.
    # spark.sql.adaptive.enabled=false proves no result depends on
    # AQE's runtime re-planning (coalesced partition counts, skew
    # splits).
    import os as _os

    extra = {}
    for kv in _os.environ.get("SPARK_GRAFT_SELFCHECK_EXTRA_CONF", "").split(
        ";"
    ):
        if "=" in kv:
            k, _, v = kv.partition("=")
            extra[k.strip()] = v.strip()
    queries, oracle = load_all()
    spark = build_session(
        shuffle_partitions=int(
            _os.environ.get("SPARK_GRAFT_SELFCHECK_PARTS", "8")
        ),
        extra_conf=extra or None,
    )
    con = duckdb.connect()
    for t in TABLES:
        # single-file fixtures are plain files; multifile layouts
        # (tools/gen_multifile.py) are directories of part files —
        # glob them so the oracle sees the same rows Spark scans
        path = f"{sf_dir}/{t}.parquet"
        if _os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )

    names = [n for n in queries if not only or n in only]
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:
            print(f"SPARK-ERROR {name}: {str(e).splitlines()[0][:200]}")
            failures.append(name)
            continue
        if name not in oracle:
            print(f"ROWS-ONLY  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracle[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"ORACLE-ERROR {name}: {str(e).splitlines()[0][:200]}")
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            sk = df_key(srows, scols)
            dk = df_key(drows, dcols)
            if sk != dk:
                diffs = [(a, b) for a, b in zip(sk, dk) if a != b]
                problems.append(f"values ({len(diffs)} differing): {diffs[:2]}")
        if problems:
            print(f"FAIL       {name}: {'; '.join(p[:400] for p in problems)}")
            failures.append(name)
        else:
            print(f"MATCH      {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{len(names) - len(failures)}/{len(names)} matched")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
