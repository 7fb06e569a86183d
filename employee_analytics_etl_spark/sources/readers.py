"""Sources: CSV/Parquet readers with explicit schemas + ingest normalization.

Design notes (vs reference):
- S1 (reference scripts/extract.py:28): CSV scan with *inferred* schema →
  here: explicit ``StructType`` per table; inference is banned. The
  driver-testdata parquet tables are read with declared schemas too: an
  inferring parquet read starts a Spark job (~90 ms) when the DataFrame
  is built, one per table read.
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

from .schemas import HR_SCHEMAS, TESTDATA_SCHEMAS, TESTDATA_TABLES, events_schema


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


def events_ts_type(path_glob: str) -> str:
    """The Spark type that inference gives ``events.ts`` in the first file
    ``path_glob`` matches (a file, or a directory of part files), read
    from its parquet footer:

    - ``BIGINT`` for TIMESTAMP(NANOS) (under nanosAsLong) or plain int64:
      epoch nanos, which the readers turn into timestamps;
    - ``TIMESTAMP`` for INT96 (Spark's default timestamp output) or a
      timestamp adjusted to UTC;
    - ``TIMESTAMP_NTZ`` for any other timestamp.

    A read with a declared schema takes the file's word for nothing, so
    without the probe a dataset that switched ts storage would fail to
    read or mis-scale every event-time operator by 1000x. One footer
    read on the driver, whatever the data volume. No file yet (an empty
    stream directory) reads as ``BIGINT``, the legacy default.
    """
    import glob
    import warnings

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = []
    for m in sorted(glob.glob(path_glob)):
        files += sorted(glob.glob(os.path.join(m, "*.parquet"))) if os.path.isdir(m) else [m]
    if not files:
        return "BIGINT"
    try:
        footer = pq.ParquetFile(files[0])
        ts = footer.schema_arrow.field("ts").type
        physical = footer.schema.column(footer.schema_arrow.get_field_index("ts")).physical_type
    except (OSError, KeyError, pa.ArrowInvalid) as exc:
        warnings.warn(
            f"parquet footer probe failed on {files[0]} ({exc!r}): "
            "falling back to the legacy nanos-long ts default — verify the "
            "events schema if event-time results look 1000x off",
            stacklevel=2,
        )
        return "BIGINT"
    if physical == "INT96" or (pa.types.is_timestamp(ts) and ts.tz is not None):
        return "TIMESTAMP"
    if pa.types.is_integer(ts) or (pa.types.is_timestamp(ts) and ts.unit == "ns"):
        return "BIGINT"
    return "TIMESTAMP_NTZ"


def read_parquet_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Parquet scan of one driver-testdata table with its declared schema,
    so building the scan starts no Spark job. ``events.ts`` stored as
    nanos arrives as an epoch-nanos BIGINT and becomes TIMESTAMP_NTZ
    here: integer DIV 1000 truncates as DuckDB's ns→µs cast does, so the
    correctness oracle sees identical instants."""
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, f"{table}.parquet")
    if table != "events":
        return spark.read.schema(TESTDATA_SCHEMAS[table]).parquet(path)
    ts_type = events_ts_type(path)
    if ts_type != "BIGINT":
        return spark.read.schema(events_schema(ts_type)).parquet(path)
    # runtime-settable SQL conf (session.py sets it too) — keeps the
    # reader right under sessions not built by session.build_session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.schema(events_schema(ts_type)).parquet(path).withColumn(
        "ts", F.expr("CAST(timestamp_micros(CAST(ts DIV 1000 AS BIGINT)) AS TIMESTAMP_NTZ)")
    )


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
