"""Shared fixtures: one session-scoped SparkSession + synthesized HR
fixture tables covering every edge row from FIXTURES.md (null FKs,
inactive/zero-salary rows, duplicate reviews, out-of-range values,
ghost departments, review-less employees), and the pipeline runs over
them and over generated inputs that several test modules check."""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import struct
import sys
from typing import NamedTuple

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from employee_analytics_etl_spark.config import PipelineConfig  # noqa: E402
from employee_analytics_etl_spark.plans.pipeline import run_pipeline  # noqa: E402
from employee_analytics_etl_spark.session import build_session  # noqa: E402
from employee_analytics_etl_spark.sources.schemas import HR_SCHEMAS  # noqa: E402
from perfbench import hrgen  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
AS_OF = dt.date(2025, 12, 29)


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="engine-tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    yield s
    s.stop()


@contextlib.contextmanager
def shuffle_partitions(spark, n: int):
    """Run the block with ``spark.sql.shuffle.partitions`` set to ``n``
    at runtime, restoring the session's value afterwards."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, before)


def d(s: str | None) -> dt.date | None:
    return dt.date.fromisoformat(s) if s else None


def encode_ppm(arr: np.ndarray) -> bytes:
    """An HxWx3 uint8 RGB array as a binary PPM (P6) payload, the input
    the PPM decoder is tested on."""
    h, w, _ = arr.shape
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(arr, dtype=np.uint8).tobytes()


def encode_bmp(arr: np.ndarray) -> bytes:
    """An HxWx3 uint8 RGB array as an uncompressed bottom-up 24-bit BMP
    payload, rows padded to 4 bytes, the input the BMP decoder is
    tested on."""
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    pix = body.tobytes()
    header = struct.pack(
        "<2sIHHI" "IiiHHIIiiII",
        b"BM", 54 + len(pix), 0, 0, 54,
        40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0,
    )
    return header + pix


@pytest.fixture(scope="session")
def hr(spark):
    """Synthesized HR star-schema fixtures (edge rows per FIXTURES.md)."""
    employees = spark.createDataFrame(
        [
            # id, name, dept, salary, hire_date, mgr, bonus, status
            (1, "Alice", 101, 40000.0, d("2020-01-01"), 3, "Y", "active"),
            (2, "Bob", 101, 70000.0, d("2021-01-01"), 3, "N", "inactive"),
            (3, "Charlie", 102, 100000.0, d("2019-01-01"), None, "Y", "active"),
            (4, "Dana", 102, 50000.0, d("2022-06-15"), 3, "N", "active"),
            (5, "Eve", None, 80000.0, d("2018-03-01"), 3, "Y", "active"),  # null dept
            (6, "Frank", 999, 85000.0, d("2023-01-10"), 3, "N", "active"),  # ghost dept
            (7, "Grace", 103, 0.0, d("2020-05-05"), 3, "Y", "active"),  # zero salary
            (8, "Heidi", 103, 48000.0, d("2024-02-02"), 3, "X", "leave"),  # bad bonus flag
            (9, "Ivan", 101, 72000.0, d("2021-07-07"), 3, "N", None),  # null status
            (10, "Judy", 103, 75000.0, d("2017-11-11"), 3, "Y", "terminated"),
        ],
        HR_SCHEMAS["employees"],
    )
    departments = spark.createDataFrame(
        [
            (101, "hr", "NYC", 500000.0, 3),
            (102, "tech", "SF", 900000.0, None),
            (103, "sales", "LA", 400000.0, 3),
            (104, "empty dept", "CHI", 100000.0, 3),  # no employees/projects
        ],
        HR_SCHEMAS["departments"],
    )
    reviews = spark.createDataFrame(
        [
            (1, 1, d("2024-01-15"), 4.6, 3),
            (2, 1, d("2025-01-15"), 3.8, 3),
            (3, 3, d("2024-06-01"), 5.0, 3),  # self-review
            (4, 3, d("2024-06-01"), 4.0, 1),  # duplicate (emp, date) — deduped
            (5, 4, d("2024-09-09"), 2.5, 3),
            (6, 4, d("2025-02-02"), 6.0, 3),  # out of range — filtered
            (7, 5, d("2025-03-03"), 0.5, 3),  # out of range — filtered
            (8, 6, d("2025-04-04"), 3.2, None),  # null reviewer
            # employee 10 has zero reviews — null avg path
        ],
        HR_SCHEMAS["performance_reviews"],
    )
    projects = spark.createDataFrame(
        [
            (1, "apollo", 101, d("2025-01-01"), None, 120000.0, "in_progress"),  # ongoing
            (2, "borealis", 102, d("2024-01-01"), d("2024-12-31"), 240000.0, "completed"),
            (3, "caldera", 102, d("2025-06-01"), d("2026-06-01"), 365000.0, "in_progress"),  # active past as_of
            (4, "driftwood", 103, d("2025-02-01"), d("2025-01-01"), 50000.0, "completed"),  # start>end — filtered
            (5, "ember", 103, d("2025-03-01"), None, None, "in_progress"),  # null budget — filtered
            (6, "flint", 103, d("2025-04-01"), None, -10.0, "in_progress"),  # negative budget — filtered
        ],
        HR_SCHEMAS["projects"],
    )
    assignments = spark.createDataFrame(
        [
            (1, 1, 1, "dev", 50.0, d("2025-01-01"), None),
            (2, 1, 2, "dev", 50.0, d("2024-01-01"), d("2024-12-31")),
            (3, 3, 2, "lead", 80.0, d("2024-01-01"), d("2024-12-31")),
            (4, 4, 3, "dev", 120.0, d("2025-06-01"), None),  # >100 — filtered
            (5, 4, 3, "qa", 60.0, d("2025-06-01"), None),
            (6, 5, 1, "dev", 40.0, d("2025-02-01"), d("2025-01-01")),  # start>end — filtered
            (7, 99, 3, "dev", 30.0, d("2025-06-01"), None),  # RI violation: no employee 99
        ],
        HR_SCHEMAS["project_assignments"],
    )
    return {
        "employees": employees,
        "departments": departments,
        "performance_reviews": reviews,
        "projects": projects,
        "project_assignments": assignments,
    }


@pytest.fixture(scope="session")
def hr_raw_dir(hr, tmp_path_factory):
    """The ``hr`` tables written as the pipeline's five raw CSVs."""
    base = tmp_path_factory.mktemp("raw")
    for name, df in hr.items():
        # write single CSV file named <table>.csv (pipeline contract)
        pdf = df.toPandas()
        # pandas serializes nullable int columns as floats ("101.0") —
        # the exact S4 round-trip bug the reference exhibits (SURVEY
        # §2.1); use nullable Int64 so ints stay ints like the real
        # reference CSVs
        for field in df.schema.fields:
            if field.dataType.simpleString() in ("bigint", "int") and (
                pdf[field.name].dtype.kind == "f"
            ):
                pdf[field.name] = pdf[field.name].astype("Int64")
        pdf.to_csv(os.path.join(base, f"{name}.csv"), index=False)
    return str(base)


@pytest.fixture(scope="session")
def hr_run(spark, hr_raw_dir, tmp_path_factory):
    """One ``run_pipeline`` run over ``hr_raw_dir``, and its config."""
    out = tmp_path_factory.mktemp("out")
    conf = PipelineConfig(
        raw_dir=hr_raw_dir,
        processed_dir=str(out / "processed"),
        report_path=str(out / "reports" / "etl_summary_report.txt"),
    )
    return run_pipeline(spark, conf), conf


def run_generated(spark, raw: str, out: str) -> dict:
    conf = PipelineConfig(
        raw_dir=raw, processed_dir=out,
        report_path=os.path.join(out, "report.txt"), as_of=hrgen.AS_OF.date(),
    )
    return run_pipeline(spark, conf)


class GeneratedRun(NamedTuple):
    raw: str  # the five generated CSVs
    counts: dict  # rows generated per table
    want: dict  # hrgen.golden(raw)
    out: str  # the run's processed_dir
    res: dict  # run_pipeline's result


@pytest.fixture(scope="session")
def generated_runs(spark, tmp_path_factory) -> dict[int, GeneratedRun]:
    """Seeded HR CSVs with every FIXTURES.md edge row (the benchmark's
    generator), their pandas goldens and one pipeline run over each,
    for seeds 1 and 2."""
    base = tmp_path_factory.mktemp("hrgen")
    runs = {}
    for seed in (1, 2):
        raw, out = str(base / f"raw_{seed}"), str(base / f"out_{seed}")
        counts = hrgen.write_hr_csvs(raw, seed, 300)
        runs[seed] = GeneratedRun(raw, counts, hrgen.golden(raw), out,
                                  run_generated(spark, raw, out))
    return runs
