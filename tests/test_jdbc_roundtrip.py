"""End-to-end JDBC load path (S6) against a REAL database.

The reference's load phase (reference scripts/load.py:15-47) is a
MySQL truncate+insert; no MySQL exists in this sandbox, but Spark
ships the embedded Apache Derby driver (it backs the Hive metastore),
which speaks real JDBC — CREATE TABLE, TRUNCATE, batched INSERT —
through the exact same ``df.write.format("jdbc")`` path a MySQL load
would use. So ``write_jdbc`` is executed for real here: create, read
back and diff, and truncate+reload.
"""

from __future__ import annotations

import datetime as dt

import pytest

from employee_analytics_etl_spark.sources.sinks import (
    jdbc_write_options,
    write_jdbc,
)

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "testdb"
    return f"jdbc:derby:{db};create=true"


def _read_back(spark, url: str, table: str):
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", DERBY_DRIVER)
        .load()
    )


class TestJdbcRoundTrip:
    def test_write_read_diff(self, spark, derby_url):
        """Create + insert + read-back: values, nulls and dates survive."""
        df = spark.createDataFrame(
            [
                (1, "Alice", 40000.0, dt.date(2020, 1, 1)),
                (2, "Bob", None, dt.date(2021, 6, 15)),
                (3, None, 90000.5, None),
            ],
            "employee_id BIGINT, name STRING, salary DOUBLE, hire_date DATE",
        )
        opts = jdbc_write_options(
            derby_url, "emp_rt", user="app", password="", driver=DERBY_DRIVER
        )
        write_jdbc(df, opts)
        got = _read_back(spark, derby_url, "emp_rt")
        assert sorted(got.collect(), key=lambda r: r["employee_id"]) == sorted(
            df.collect(), key=lambda r: r["employee_id"]
        )

    def test_truncate_then_insert_contract(self, spark, derby_url):
        """Second overwrite with truncate=true must TRUNCATE (not drop)
        and leave exactly the new rows — the reference's TRUNCATE-then-
        INSERT semantics (reference scripts/load.py:35-43)."""
        v1 = spark.createDataFrame(
            [(1, "one"), (2, "two")], "id BIGINT, label STRING"
        )
        v2 = spark.createDataFrame(
            [(3, "three")], "id BIGINT, label STRING"
        )
        opts = jdbc_write_options(
            derby_url, "trunc_rt", user="app", password="", driver=DERBY_DRIVER
        )
        write_jdbc(v1, opts)
        write_jdbc(v2, opts)  # mode=overwrite + truncate=true
        got = _read_back(spark, derby_url, "trunc_rt").collect()
        assert [(r["id"], r["label"]) for r in got] == [(3, "three")]

    def test_pipeline_summary_load(self, spark, derby_url, hr):
        """Load a real pipeline output (dept summary) like the
        reference's load phase loads summary_dept_metrics."""
        from employee_analytics_etl_spark.operators.cleaning import (
            clean_employees,
            clean_projects,
        )
        from employee_analytics_etl_spark.operators.summaries import dept_summary
        from tests.conftest import AS_OF

        out = dept_summary(
            hr["departments"],
            clean_employees(hr["employees"], AS_OF),
            clean_projects(hr["projects"], AS_OF),
            AS_OF,
        )
        opts = jdbc_write_options(
            derby_url, "summary_dept_metrics", user="app", password="",
            driver=DERBY_DRIVER,
        )
        write_jdbc(out, opts)
        got = _read_back(spark, derby_url, "summary_dept_metrics")
        exp = {tuple(r) for r in out.collect()}
        assert {tuple(r) for r in got.collect()} == exp

