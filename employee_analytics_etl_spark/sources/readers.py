"""Sources: CSV/Parquet readers with explicit schemas + ingest normalization.

Design notes (vs reference):
- S1 (reference scripts/extract.py:28): CSV scan with *inferred* schema →
  here: explicit ``StructType`` per table; inference is banned.
- S2 (reference scripts/main.py:41-45): required-file manifest check →
  ``check_manifest`` fails fast before any Spark job is submitted.
- Column tolerance (reference scripts/transform.py:101-111 accepts the
  department name column as either ``name`` or ``department_name``) is
  not needed: a CSV read with a fixed schema names its columns by
  schema position, so ``department_name`` always exists.

Scale: parquet readers keep Catalyst's predicate pushdown / column
pruning intact (no ``.cache()`` here — callers decide materialization
points). At 100 TB the facts arrive partitioned; readers accept a
directory and let Spark do partition discovery + pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .schemas import HR_SCHEMAS, TESTDATA_TABLES


class MissingInputError(FileNotFoundError):
    """Raised when a required input file is absent (pre-flight check)."""


def check_manifest(base_dir: str, required: list[str]) -> None:
    """Fail fast if any required input file is missing
    (reference scripts/main.py:41-45, scripts/extract.py:11-17)."""
    missing = [f for f in required if not os.path.exists(os.path.join(base_dir, f))]
    if missing:
        raise MissingInputError(
            f"missing required input files in {base_dir}: {missing}"
        )


def read_csv_table(spark: SparkSession, path: str, table: str) -> DataFrame:
    """CSV scan with the registry schema (no inference). Dates are parsed
    from ISO yyyy-MM-dd via schema-level DateType (SURVEY.md C9)."""
    schema = HR_SCHEMAS[table]
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("dateFormat", "yyyy-MM-dd")
        .csv(path)
    )


# Parquet TIMESTAMP(NANOS) columns (Spark has no nanos timestamp type).
# With spark.sql.legacy.parquet.nanosAsLong=true (set in session.py) they
# arrive as epoch-nanos BIGINT; normalize to TIMESTAMP_NTZ at ingest —
# integer DIV 1000 truncation matches DuckDB's ns→µs truncation, so the
# correctness oracle sees identical instants.
NANOS_TS_COLUMNS: dict[str, list[str]] = {"events": ["ts"]}


def read_parquet_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Parquet scan of one driver-testdata table, with nanos-timestamp
    normalization for the ``events`` stream table."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if table in NANOS_TS_COLUMNS:
        # runtime-settable SQL conf — makes the reader safe under driver
        # sessions not built by session.build_session
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    for c in NANOS_TS_COLUMNS.get(table, []):
        if c in df.columns and isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(
                c,
                F.expr(f"CAST(timestamp_micros(CAST({c} DIV 1000 AS BIGINT)) AS TIMESTAMP_NTZ)"),
            )
    return df


def read_fixed_width(
    spark: SparkSession,
    path: str,
    fields: list[tuple[str, int, int, str]],
    trim: bool = True,
) -> DataFrame:
    """Fixed-width (positional) flat-file scan — the mainframe/legacy
    export format the CSV/Parquet readers lack. ``fields`` is
    ``[(name, start_1_based, length, spark_type), ...]``; each column
    is carved out of the line with ``substring`` and cast via
    ``try_cast`` (unparseable → NULL, PERMISSIVE, never a mid-scan
    ANSI failure). ``trim`` strips the
    space padding fixed-width encoders emit.

    Scale: ``spark.read.text`` splits the file like any text source
    (one line per row, parallel by HDFS/object-store block); the
    substring/cast work is pure codegen'd projection — no Python, no
    shuffle. Short lines yield NULL columns (substring past the end is
    empty → try_cast NULL), the classic tolerance for ragged tails."""
    from pyspark.sql import functions as F

    df = spark.read.text(path)
    cols = []
    for name, start, length, dtype in fields:
        c = F.substring(F.col("value"), start, length)
        if trim:
            c = F.trim(c)
        c = F.nullif(c, F.lit(""))
        cols.append(c.try_cast(dtype).alias(name))
    return df.select(*cols)


def load_sf_tables(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load driver testdata tables as a name→DataFrame dict and register
    each as a temp view (so every operator is also reachable via SQL)."""
    out: dict[str, DataFrame] = {}
    for t in tables or TESTDATA_TABLES:
        df = read_parquet_table(spark, sf_dir, t)
        df.createOrReplaceTempView(t)
        out[t] = df
    return out


def register_views(spark: SparkSession, sf_dir: str, tables=None) -> list[str]:
    """Register the testdata tables as temp views so the engine is
    usable from plain ``spark.sql`` — the SQL front door next to the
    Python registry (same normalized readers, so ``events.ts`` is a
    proper timestamp in SQL too). Missing tables are skipped silently
    (partial datasets stay usable); returns the registered names."""
    registered = []
    for tb in tables or TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{tb}.parquet")
        if not os.path.exists(path):
            continue
        read_parquet_table(spark, sf_dir, tb).createOrReplaceTempView(tb)
        registered.append(tb)
    return registered
