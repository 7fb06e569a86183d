"""Business-insights report (SURVEY.md §2.7 T1-T4, A5; reference
scripts/reporting.py).

Each insight is a top-k query — Spark compiles ``orderBy(...).limit(k)``
to TakeOrderedAndProject (no global sort at scale). pandas sorts NaN
last in descending sorts; Spark's ``desc`` puts nulls first, so every
insight uses ``desc_nulls_last`` for parity (SURVEY.md T2 caveat).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import run_concurrently


def top_dept_by_avg_salary(dept_summary: DataFrame) -> DataFrame:
    """T1 (reference scripts/reporting.py:85-87)."""
    return dept_summary.orderBy(F.desc_nulls_last("avg_salary")).limit(1)


def top_employees_by_rating(emp_performance: DataFrame, k: int = 5) -> DataFrame:
    """T2 (reference scripts/reporting.py:90-93)."""
    return emp_performance.orderBy(F.desc_nulls_last("avg_rating")).limit(k)


def top_dept_by_active_projects(dept_summary: DataFrame) -> DataFrame:
    """T3 (reference scripts/reporting.py:96-98)."""
    return dept_summary.orderBy(F.desc_nulls_last("active_projects")).limit(1)


def top_employee_by_tenure(emp_performance: DataFrame) -> DataFrame:
    """T4 (reference scripts/reporting.py:101-103)."""
    return emp_performance.orderBy(F.desc_nulls_last("tenure_years")).limit(1)


def avg_project_duration(projects_clean: DataFrame) -> float | None:
    """A5 (reference scripts/reporting.py:108-110)."""
    row = projects_clean.agg(
        F.round(F.avg("project_duration_days"), 1).alias("avg_duration")
    ).collect()[0]
    return row["avg_duration"]


def generate_summary_report(
    outputs: dict[str, DataFrame],
    projects_clean: DataFrame,
    volume_stats: dict[str, dict[str, int]],
    dq: dict,
    as_of: dt.date,
) -> str:
    """Assemble the text report (reference scripts/reporting.py:5-123).

    Five tiny ``collect``s on already-aggregated summaries, run
    concurrently.
    """
    ds, ep = outputs["summary_dept_metrics"], outputs["summary_emp_performance"]
    top_salary, top5, top_active, top_tenure, avg_dur = run_concurrently(
        ds.sparkSession,
        [
            top_dept_by_avg_salary(ds).collect,
            top_employees_by_rating(ep).collect,
            top_dept_by_active_projects(ds).collect,
            top_employee_by_tenure(ep).collect,
            lambda: avg_project_duration(projects_clean),
        ],
    )

    lines: list[str] = []
    add = lines.append
    add("=" * 64)
    add("EMPLOYEE ANALYTICS ETL - SUMMARY REPORT (spark engine)")
    add(f"as_of date: {as_of.isoformat()}")
    add("=" * 64)

    add("\n-- DATA VOLUME --")
    for table, counts in volume_stats.items():
        extracted = counts.get("extracted", 0)
        cleaned = counts.get("cleaned", extracted)
        add(f"{table}: extracted={extracted} cleaned={cleaned} "
            f"removed={extracted - cleaned}")

    add("\n-- DATA QUALITY --")
    add(f"checks={dq['total_checks']} passed={dq['passed']} "
        f"failed={dq['failed']} critical={dq['critical_issues']}")
    for issue in dq.get("issues", []):
        add(f"  ! {issue}")

    add("\n-- BUSINESS INSIGHTS --")
    if top_salary:
        r = top_salary[0]
        add(f"A. Highest avg salary: {r['name']} (${r['avg_salary']:,.2f})")

    names = ", ".join(x["name"] for x in top5 if x["avg_rating"] is not None)
    add(f"B. Top performers by avg rating: {names}")

    if top_active:
        r = top_active[0]
        add(f"C. Most active projects: {r['name']} ({r['active_projects']})")

    if top_tenure:
        r = top_tenure[0]
        add(f"D. Longest tenure: {r['name']} ({r['tenure_years']} years)")

    add(f"E. Avg project duration: {avg_dur} days")

    add("\n" + "=" * 64)
    return "\n".join(lines)
