"""CLI entry points mirroring the reference's four scripts
(SURVEY.md §3: main.py / load.py / transform.py / extract.py):

    python -m employee_analytics_etl_spark run        --raw-dir D --out O
    python -m employee_analytics_etl_spark transform  --raw-dir D
    python -m employee_analytics_etl_spark validate   --raw-dir D
    python -m employee_analytics_etl_spark report     --raw-dir D --out O

plus the analytics front doors over a testdata directory:

    python -m employee_analytics_etl_spark query --name tpch_q1_pricing_summary [--sf-dir D]
    python -m employee_analytics_etl_spark sql -e "SELECT COUNT(*) FROM orders" [--sf-dir D]
    python -m employee_analytics_etl_spark explain --name tpch_q1_pricing_summary [--sf-dir D]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="employee_analytics_etl_spark")
    p.add_argument(
        "command",
        choices=[
            "run", "transform", "validate", "report",
            "query", "sql", "explain",
        ],
    )
    p.add_argument("--raw-dir", default=None, help="directory of <table>.csv inputs")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                   help="parquet testdata dir for query/sql")
    p.add_argument("--name", default=None, help="registry query name (query)")
    p.add_argument("-e", "--expr", default=None, help="SQL text (sql)")
    p.add_argument("--limit", type=int, default=20, help="rows to show (query/sql)")
    p.add_argument("--out", default="out", help="output directory")
    p.add_argument("--as-of", default="2025-12-29", help="pinned as_of date (ISO)")
    p.add_argument("--jdbc-url", default=None)
    args = p.parse_args(argv)

    if args.command in ("query", "sql", "explain"):
        from .plans import load_all
        from .session import build_session
        from .sources.readers import register_views

        queries, _ = load_all()
        spark = build_session(app_name=f"eae-{args.command}")
        if args.command in ("query", "explain"):
            if args.name not in queries:
                print(
                    f"unknown query {args.name!r}; available: "
                    + ", ".join(sorted(queries)),
                    file=sys.stderr,
                )
                return 2
            df = queries[args.name](spark, args.sf_dir)
            if args.command == "explain":
                df.explain("formatted")
            else:
                df.show(args.limit, truncate=False)
        else:
            if not args.expr:
                print("sql requires -e/--expr", file=sys.stderr)
                return 2
            register_views(spark, args.sf_dir)
            spark.sql(args.expr).show(args.limit, truncate=False)
        return 0

    if not args.raw_dir:
        print(f"{args.command} requires --raw-dir", file=sys.stderr)
        return 2

    from .config import PipelineConfig
    from .plans.pipeline import run_pipeline
    from .session import build_session

    conf = PipelineConfig(
        raw_dir=args.raw_dir,
        processed_dir=os.path.join(args.out, "processed") if args.command in ("run", "report") else "",
        report_path=os.path.join(args.out, "reports", "etl_summary_report.txt")
        if args.command in ("run", "report")
        else "",
        as_of=dt.date.fromisoformat(args.as_of),
        jdbc_url=args.jdbc_url,
    )
    spark = build_session(app_name=f"eae-{args.command}")
    res = run_pipeline(spark, conf)

    if args.command == "transform":
        for name, df in res["outputs"].items():
            print(f"== {name} ==")
            df.show(3, truncate=False)
    elif args.command == "validate":
        print(json.dumps({k: v for k, v in res["dq"].items()}, indent=2, default=str))
    else:
        print(res["report"])
        print(json.dumps(res["timings"], indent=2), file=sys.stderr)
    spark.stop()
    return 0 if res["dq"]["critical_issues"] == 0 else 2


if __name__ == "__main__":
    raise SystemExit(main())
