"""Pipeline orchestration (SURVEY.md §3): extract → transform → validate
→ load → report, as one lazy Spark plan with explicit materialization
points.

Differences from the reference's eager pandas lifecycle
(reference scripts/main.py:184-222):
- Each phase is a pure ``DataFrame → DataFrame`` composition; nothing
  materializes until a sink/count/report action.
- The five cleaned frames feed three summaries + validation + volume
  counts, so they are ``cache()``d — the one manual materialization
  decision Catalyst can't make for us (SURVEY.md §4.1).
- Volume stats (S3/A6) come from the ``count()``s that fill those
  caches: the extracted row count is a ``DataFrame.observe`` metric on
  each CSV scan, so every CSV is decoded once.
- Once the caches are full no action depends on another, so they run
  concurrently from driver threads (``session.run_concurrently``):
  the five cache-filling counts; then the four validators (one action
  each) and the seven CSV writes, with the report's five collects
  starting as soon as validation is done. Spark plans each action on
  its own and schedules jobs from all threads at once, so planning one
  action overlaps the execution of the others. The JDBC load stays
  sequential, in foreign-key order.
"""

from __future__ import annotations

import logging
import os
import time
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.cleaning import (
    clean_assignments,
    clean_departments,
    clean_employees,
    clean_projects,
    clean_reviews,
)
from ..operators.summaries import dept_summary, emp_performance, project_workload
from ..session import run_concurrently
from ..sources.readers import check_manifest, normalize_departments, read_csv_table
from ..sources.schemas import HR_TABLE_ORDER
from ..sources.sinks import jdbc_write_options, write_csv, write_jdbc, write_text_report
from . import validation as V
from .reporting import generate_summary_report

log = logging.getLogger("employee_analytics_etl_spark.pipeline")

OUTPUT_COLUMNS = {
    # P8 column alignment per output table (reference scripts/main.py:96-105)
    "dim_departments": ["department_id", "department_name", "location", "budget", "manager_id"],
    "dim_employees": [
        "employee_id", "name", "department_id", "salary", "hire_date",
        "salary_bucket", "tenure_years", "status",
    ],
    "fact_performance_reviews": [
        "review_id", "employee_id", "review_date", "rating",
        "performance_category", "is_self_review", "latest_rating",
    ],
    "fact_project_assignments": [
        "employee_id", "project_id", "allocation_percentage", "start_date", "end_date",
    ],
}


def register_output_views(spark: SparkSession, outputs: dict[str, DataFrame]) -> None:
    """Register every output table as a temp view (SQL surface parity:
    each business insight becomes a one-line spark.sql query)."""
    for name, df in outputs.items():
        df.createOrReplaceTempView(name)


def _select_existing(df: DataFrame, cols: list[str]) -> DataFrame:
    """Best-effort projection (reference scripts/main.py:99-105 pattern)."""
    present = [c for c in cols if c in df.columns]
    return df.select(*present)


def run_pipeline(spark: SparkSession, conf: PipelineConfig) -> dict:
    """Full ETL. Returns {outputs, volume_stats, dq, report, timings}.

    ``timings`` holds seconds of wall time:

    - ``materialize_s``: start until the five cleaned frames are cached
      and counted, which decodes every CSV exactly once;
    - ``actions_s``: validation, report, CSV writes and JDBC load, which
      overlap, so no per-phase split is given;
    - ``total``: the whole run.
    """
    t0 = time.time()

    # --- extract (S1/S2/S3): each raw row is counted as it is decoded ----
    check_manifest(conf.raw_dir, [f"{t}.csv" for t in HR_TABLE_ORDER])
    extracted = {t: Observation(f"extracted_{t}") for t in HR_TABLE_ORDER}
    raw = {
        t: read_csv_table(spark, os.path.join(conf.raw_dir, f"{t}.csv"), t)
        .observe(extracted[t], F.count(F.lit(1)).alias("rows"))
        for t in HR_TABLE_ORDER
    }
    raw["departments"] = normalize_departments(raw["departments"])

    # --- transform ----------------------------------------------------------
    emp = clean_employees(raw["employees"], conf.as_of).cache()
    rev = clean_reviews(raw["performance_reviews"]).cache()
    proj = clean_projects(raw["projects"], conf.as_of).cache()
    asn = clean_assignments(raw["project_assignments"]).cache()
    dept = clean_departments(raw["departments"]).cache()
    cleaned = {
        "departments": dept, "employees": emp, "performance_reviews": rev,
        "projects": proj, "project_assignments": asn,
    }
    try:
        counts = run_concurrently(spark, [cleaned[t].count for t in HR_TABLE_ORDER])
        volume_stats = {
            t: {"extracted": extracted[t].get["rows"], "cleaned": n}
            for t, n in zip(HR_TABLE_ORDER, counts)
        }
        t1 = time.time()

        outputs = {
            "dim_departments": _select_existing(dept, OUTPUT_COLUMNS["dim_departments"]),
            "dim_employees": _select_existing(emp, OUTPUT_COLUMNS["dim_employees"]),
            "fact_performance_reviews": _select_existing(
                rev, OUTPUT_COLUMNS["fact_performance_reviews"]
            ),
            "fact_project_assignments": _select_existing(
                asn, OUTPUT_COLUMNS["fact_project_assignments"]
            ),
            "summary_dept_metrics": dept_summary(dept, emp, proj, conf.as_of),
            "summary_emp_performance": emp_performance(emp, dept, rev),
            # NOTE: the reference computes project workload then silently
            # DROPS it from the load set (reference scripts/main.py:107-115).
            # We keep it — documented intentional divergence.
            "summary_project_workload": project_workload(proj, asn),
        }
        # SQL surface (SURVEY.md §3.3): every output table as a temp view,
        # so each report insight is a spark.sql one-liner
        register_output_views(spark, outputs)

        # --- validate (V1-V9, one action per table) + report (S9, T1-T4,
        # A5), alongside the CSV load (S5) ------------------------------------
        def validate_and_report() -> tuple[dict, str]:
            dq = V.dq_stats(run_concurrently(spark, [
                lambda: V.validate_employees(emp),
                lambda: V.validate_reviews(rev, employees=emp),
                lambda: V.validate_projects(proj),
                lambda: V.validate_assignments(asn, employees=emp, projects=proj),
            ]))
            return dq, generate_summary_report(outputs, proj, volume_stats, dq, conf.as_of)

        writes = [
            partial(write_csv, df, os.path.join(conf.processed_dir, name))
            for name, df in outputs.items()
        ] if conf.processed_dir else []
        (dq, report), *_ = run_concurrently(spark, [validate_and_report, *writes])

        # --- JDBC load (S6): one table at a time, in foreign-key order ------
        if conf.jdbc_url:
            for name, df in outputs.items():
                write_jdbc(
                    df,
                    jdbc_write_options(
                        conf.jdbc_url, name, conf.jdbc_user, conf.jdbc_password,
                        session_init="SET FOREIGN_KEY_CHECKS=0",
                    ),
                )
        if conf.report_path:
            write_text_report(report, conf.report_path)
        t2 = time.time()
    finally:
        for df in cleaned.values():
            df.unpersist()

    return {
        "outputs": outputs,
        "volume_stats": volume_stats,
        "dq": dq,
        "report": report,
        "timings": {"materialize_s": t1 - t0, "actions_s": t2 - t1, "total": t2 - t0},
    }
