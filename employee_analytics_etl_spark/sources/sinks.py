"""Sinks: CSV (date-formatted), JDBC, text report.

- S5 (reference scripts/load.py:67-82): CSV sink with ``%Y-%m-%d`` date
  serialization → ``write_csv``, one file per table as the reference
  writes.
- S6/S8 (reference scripts/load.py:15-61): MySQL truncate+insert,
  index DDL → ``write_jdbc`` builds the equivalent Spark JDBC write.
  S7, the reference's FK-check toggle around the load, has no hook:
  the pipeline's JDBC load runs no statement before it. The NaN→None
  bridge (reference scripts/load.py:32) disappears: Spark nulls ARE SQL
  nulls. Index DDL has no Spark-side analogue; the scale-equivalent is
  ``partition_by`` at write time, exposed via ``write_parquet``.
- S9 (reference scripts/reporting.py:120-123): text-report sink →
  ``write_text_report`` (plain driver-side write).

``write_jdbc`` is exercised END-TO-END in tests against embedded
Apache Derby (the JDBC driver Spark ships for its Hive metastore):
create, truncate+reload and read-back diff (tests/test_jdbc_roundtrip.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink with header + ISO date format (reference scripts/load.py:79):
    one file per table, replacing what ``path`` held."""
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("dateFormat", "yyyy-MM-dd")
        .csv(path)
    )


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink; ``partition_by`` is the scale-analogue of the
    reference's post-load B-tree indexes (reference scripts/load.py:49-61):
    partition pruning serves the same access paths."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def jdbc_write_options(
    url: str,
    table: str,
    user: str,
    password: str,
    batchsize: int = 1000,
    truncate: bool = True,
    session_init: str | None = None,
    driver: str | None = None,
) -> dict[str, str]:
    """Build the option dict for a truncate+insert JDBC load
    (reference scripts/load.py:15-47: TRUNCATE + batched executemany
    → Spark: mode=overwrite + truncate=true + batchsize).

    ``session_init`` maps the reference's ``SET FOREIGN_KEY_CHECKS=0``
    (reference scripts/main.py:159) to JDBC ``sessionInitStatement``.
    ``driver`` pins the JDBC driver class (e.g. embedded Derby in the
    test round-trip; MySQL Connector/J against the reference's target).
    """
    opts = {
        "url": url,
        "dbtable": table,
        "user": user,
        "password": password,
        "batchsize": str(batchsize),
        "truncate": "true" if truncate else "false",
    }
    if session_init:
        opts["sessionInitStatement"] = session_init
    if driver:
        opts["driver"] = driver
    return opts


def write_jdbc(df: DataFrame, options: dict[str, str], mode: str = "overwrite") -> None:
    """JDBC sink. mode=overwrite + truncate=true reproduces the
    reference's TRUNCATE-then-INSERT contract (reference scripts/load.py:35-43)."""
    df.write.format("jdbc").options(**options).mode(mode).save()


def write_text_report(text: str, path: str) -> None:
    """Driver-side text report sink (reference scripts/reporting.py:120-123)."""
    import os

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)
