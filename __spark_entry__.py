"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``employee_analytics_etl_spark`` — this file
only adapts the engine's query registry to the driver contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from employee_analytics_etl_spark.plans import load_all  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: TPC-H-Q1-shaped pricing summary on sf0.001."""
    queries_map, _ = load_all()
    return queries_map["tpch_q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    extension tier). Each callable takes (spark, sf_dir)."""
    queries_map, _ = load_all()
    return dict(queries_map)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL equivalents (same column names/types).
    Keys absent here (e.g. knn_lsh_hyperplane) are genuinely
    non-SQL-expressible → rows-only check."""
    _, oracle_map = load_all()
    return dict(oracle_map)
