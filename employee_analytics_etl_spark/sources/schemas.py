"""Explicit schema registry.

The reference infers every schema with ``pd.read_csv`` (reference
scripts/extract.py:28) which mutates types on round-trips (ints become
floats). We declare schemas up front — inference is banned in this
engine (SURVEY.md §1.2). The five HR input schemas are fixed by the
reference's generator (reference data/raw/import_csv.py:6-102);
the testdata schemas are the types Spark infers from the driver's
parquet tables at every scale factor (``tests/test_sources.py``
checks this on each dataset present).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- HR star-schema inputs (reference data/raw/import_csv.py) ---------------

HR_SCHEMAS: dict[str, T.StructType] = {
    "departments": T.StructType(
        [
            T.StructField("department_id", T.LongType(), False),
            T.StructField("department_name", T.StringType(), False),
            T.StructField("location", T.StringType(), False),
            T.StructField("budget", T.DoubleType(), False),
            T.StructField("manager_id", T.LongType(), True),
        ]
    ),
    "employees": T.StructType(
        [
            T.StructField("employee_id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("department_id", T.LongType(), True),
            T.StructField("salary", T.DoubleType(), True),
            T.StructField("hire_date", T.DateType(), True),
            T.StructField("manager_id", T.LongType(), True),
            T.StructField("bonus_eligible", T.StringType(), True),
            T.StructField("status", T.StringType(), True),
        ]
    ),
    "performance_reviews": T.StructType(
        [
            T.StructField("review_id", T.LongType(), False),
            T.StructField("employee_id", T.LongType(), False),
            T.StructField("review_date", T.DateType(), True),
            T.StructField("rating", T.DoubleType(), True),
            T.StructField("reviewer_id", T.LongType(), True),
        ]
    ),
    "projects": T.StructType(
        [
            T.StructField("project_id", T.LongType(), False),
            T.StructField("project_name", T.StringType(), True),
            T.StructField("department_id", T.LongType(), True),
            T.StructField("start_date", T.DateType(), True),
            T.StructField("end_date", T.DateType(), True),
            T.StructField("budget", T.DoubleType(), True),
            T.StructField("status", T.StringType(), True),
        ]
    ),
    "project_assignments": T.StructType(
        [
            T.StructField("assignment_id", T.LongType(), False),
            T.StructField("employee_id", T.LongType(), False),
            T.StructField("project_id", T.LongType(), False),
            T.StructField("role", T.StringType(), True),
            T.StructField("allocation_percentage", T.DoubleType(), True),
            T.StructField("start_date", T.DateType(), True),
            T.StructField("end_date", T.DateType(), True),
        ]
    ),
}

# Order in which the pipeline expects/loads HR tables.
HR_TABLE_ORDER = [
    "departments",
    "employees",
    "performance_reviews",
    "projects",
    "project_assignments",
]

# --- Driver testdata (TPC-H-ish parquet, one ``<table>.parquet`` per table) ---

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# DDL strings: Spark parses them, and a read with a schema lists files
# but starts no job (an inferring read starts one per table).
TESTDATA_SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, "
        "p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, "
        "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}


def events_schema(ts_type: str) -> str:
    """The events table's schema with ``ts`` read as ``ts_type``, which
    ``readers.events_ts_type`` probes from the files: ``events.ts`` is
    stored as epoch nanos in some datasets and as a timestamp in others.
    The batch reader and the stream share it."""
    return (
        f"event_id BIGINT, ts {ts_type}, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    )
