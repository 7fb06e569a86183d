"""Sinks: CSV (date-formatted), JDBC, text report.

- S5 (reference scripts/load.py:67-82): CSV sink with ``%Y-%m-%d`` date
  serialization → ``write_csv``, one file per table as the reference
  writes.
- S6/S7/S8 (reference scripts/load.py:15-61): MySQL truncate+insert,
  FK-check toggling, index DDL → ``write_jdbc`` builds the equivalent
  Spark JDBC write. The NaN→None bridge (reference scripts/load.py:32)
  disappears: Spark nulls ARE SQL nulls. Index DDL has no Spark-side
  analogue; the scale-equivalent is ``partition_by``/bucketing at write
  time, exposed via ``write_parquet``.
- S9 (reference scripts/reporting.py:120-123): text-report sink →
  ``write_text_report`` (plain driver-side write).

``write_jdbc`` is exercised END-TO-END in tests against embedded
Apache Derby (the JDBC driver Spark ships for its Hive metastore):
create, truncate+reload, read-back diff, and the S7 pre-load
statement hook (tests/test_jdbc_roundtrip.py).
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


def exec_jdbc_statement(
    spark, url: str, sql: str, driver: str | None = None
) -> None:
    """Execute one SQL statement over a direct JDBC connection on the
    driver — the S7 slot (reference scripts/main.py:159 ``SET
    FOREIGN_KEY_CHECKS=0`` before the load, and its re-enable after).

    Spark's ``sessionInitStatement`` option only runs on READ
    connections (JDBCRDD), not on writer connections — verified by a
    side-effect probe — so session-level toggles that must precede a
    LOAD go through this explicit hook instead. Uses the JVM's
    DriverManager via the active gateway; no extra Python DB driver
    needed."""
    jvm = spark._jvm
    if driver:
        # ensure the driver class is registered with DriverManager
        jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()
        try:
            stmt.execute(sql)
        finally:
            stmt.close()
    finally:
        conn.close()


# SQLStates that mean "table/view does not exist" — the ONLY probe
# outcome jdbc_table_exists may report as False. 42X05 = Derby,
# 42S02 = SQL/ODBC standard (MySQL/MariaDB/H2), 42P01 = Postgres,
# S0002 = older MySQL drivers, 42704 = DB2 undefined name.
#
# SUPPORTED-BACKEND CONTRACT: absence detection is exact for Derby,
# MySQL/MariaDB, H2, Postgres, DB2, Oracle and SQLite (below). A
# backend that reports table-absence under a state/vendor-code pair
# NOT listed here gets the FAIL-SAFE direction — the probe raises on
# a genuinely absent table rather than ever answering "absent" for a
# live one; extend the tables below to onboard such a backend.
_TABLE_ABSENT_SQLSTATES = frozenset(
    {"42X05", "42S02", "42P01", "S0002", "42704"}
)

# Backends whose drivers report table-absence under an ambiguous
# SQLState (Oracle: ORA-00942 arrives as generic "42000") or a null
# one (SQLite's JDBC driver leaves getSQLState() null): fall back to
# the vendor error code, gated so a 42000 syntax error from another
# backend can never be mistaken for absence.
#   Oracle ORA-00942 "table or view does not exist" → vendor code 942
#   SQLite "no such table" → vendor code 1 (SQLITE_ERROR) is too
#   generic — deliberately NOT mapped; SQLite callers get fail-safe.
_AMBIGUOUS_SQLSTATES = frozenset({"42000"}) | {None}
_TABLE_ABSENT_VENDOR_CODES = frozenset({942})


def _jdbc_vendor_code(exc: Exception) -> int | None:
    """Walk a py4j-wrapped SQLException's cause chain for getErrorCode()."""
    j = getattr(exc, "java_exception", None)
    seen = 0
    while j is not None and seen < 8:
        get_code = getattr(j, "getErrorCode", None)
        if get_code is not None:
            try:
                code = get_code()
                if code:
                    return int(code)
            except Exception:
                pass
        j = j.getCause() if hasattr(j, "getCause") else None
        seen += 1
    return None


def _jdbc_sql_state(exc: Exception) -> str | None:
    """Walk a py4j-wrapped SQLException's cause chain for getSQLState()."""
    j = getattr(exc, "java_exception", None)
    seen = 0
    while j is not None and seen < 8:
        get_state = getattr(j, "getSQLState", None)
        if get_state is not None:
            try:
                state = get_state()
                if state:
                    return str(state)
            except Exception:
                pass
        j = j.getCause() if hasattr(j, "getCause") else None
        seen += 1
    return None


def jdbc_table_exists(
    spark, url: str, table: str, driver: str | None = None
) -> bool:
    """True iff ``table`` is queryable over a direct JDBC connection
    (``SELECT 1 ... WHERE 1=0`` probe — touches metadata only, reads no
    rows). Lets callers distinguish "table not created yet" from every
    other JDBC failure (connection drop, lock timeout, permissions),
    which must NOT be conflated: an idempotent delete-before-append
    sink that swallows a failed DELETE as if the table were merely
    absent would append on top of torn rows and break exactly-once.

    Only a probe failure whose SQLState names the TABLE-NOT-FOUND
    condition (``_TABLE_ABSENT_SQLSTATES``), or whose SQLState is
    ambiguous/null but whose vendor error code does (Oracle 942 — see
    ``_TABLE_ABSENT_VENDOR_CODES``), returns False; every other
    exception — lock timeout, dropped connection, permissions — is
    RE-RAISED so the caller's micro-batch fails and replays instead of
    silently appending duplicates on top of an unverified table."""
    jvm = spark._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()
        try:
            rs = stmt.executeQuery(f"SELECT 1 FROM {table} WHERE 1 = 0")
            rs.close()
            return True
        except Exception as exc:
            state = _jdbc_sql_state(exc)
            if state in _TABLE_ABSENT_SQLSTATES:
                return False
            if (
                state in _AMBIGUOUS_SQLSTATES
                and _jdbc_vendor_code(exc) in _TABLE_ABSENT_VENDOR_CODES
            ):
                return False
            raise
        finally:
            stmt.close()
    finally:
        conn.close()


def write_text_report(text: str, path: str) -> None:
    """Driver-side text report sink (reference scripts/reporting.py:120-123)."""
    import os

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)
