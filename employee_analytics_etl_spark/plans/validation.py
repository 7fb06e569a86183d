"""Data-quality validation suite (SURVEY.md §2.9, V1-V9).

The reference evaluates each check as a separate eager pandas pass
(reference scripts/validation.py:12-57). Here every per-table check is a
declarative ``Check`` (name + violation predicate + severity) and ALL
checks for a table are fused into ONE aggregate pass:

    df.agg(sum(when(pred1,1)), sum(when(pred2,1)), ...)

— a single job / single scan per table regardless of check count
(SURVEY.md §4.3 item 3). Referential-integrity checks (V4) are hash
anti-joins — replacing the reference's O(n·m) Python list scan
(reference scripts/validation.py:41) with a distributed hash join.
Each validator makes one action: the fused aggregate, the PK-duplicate
count (V2) and the RI counts are one-row frames, cross-joined and
collected together.

At scale: the fused pass is one shuffle-free map + tiny reduce;
anti-joins broadcast the parent key set when small.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Check:
    name: str
    violation: Column  # boolean Column: True = row violates the check
    critical: bool = False
    message: str = ""


@dataclass
class TableReport:
    table: str
    total_rows: int = 0
    results: dict[str, int] = field(default_factory=dict)  # check → violation count
    critical: set = field(default_factory=set)

    @property
    def issues(self) -> list[str]:
        return [
            f"{self.table}: {name}: {n} violating rows"
            for name, n in self.results.items()
            if n > 0
        ]

    @property
    def passed(self) -> int:
        return sum(1 for n in self.results.values() if n == 0)

    @property
    def failed(self) -> int:
        return sum(1 for n in self.results.values() if n > 0)


def _null_tolerant_not_in(col: str, allowed: list[str]) -> Column:
    """V6 parity: pandas ``~isin`` flags null as invalid; SQL ``isin``
    on null yields null (not flagged). Add the null branch explicitly
    (reference scripts/validation.py:74-78)."""
    c = F.col(col)
    return c.isNull() | ~c.isin(allowed)


# --- generic check builders (V1-V8) -----------------------------------------

def pk_complete(pk: str) -> Check:
    return Check(f"pk_complete_{pk}", F.col(pk).isNull(), critical=True)


def required_complete(col: str) -> Check:
    return Check(f"complete_{col}", F.col(col).isNull())


def in_range(col: str, lo: float, hi: float) -> Check:
    c = F.col(col)
    return Check(f"range_{col}", c.isNotNull() & ~c.between(lo, hi))


def enum_valid(col: str, allowed: list[str]) -> Check:
    return Check(f"enum_{col}", _null_tolerant_not_in(col, allowed))


def conditional(name: str, when_pred: Column, then_violated: Column) -> Check:
    return Check(name, when_pred & then_violated)


def positive_or_null(col: str) -> Check:
    c = F.col(col)
    return Check(f"positive_{col}", c.isNotNull() & (c <= 0))


def _check_frame(df: DataFrame, checks: list[Check]) -> DataFrame:
    """One row: ``__total`` plus one violation count per check (V9 fusion)."""
    return df.agg(
        F.count(F.lit(1)).alias("__total"),
        *[
            F.sum(F.when(c.violation, 1).otherwise(0)).cast("long").alias(c.name)
            for c in checks
        ],
    )


def _pk_dup_frame(df: DataFrame, pk: str) -> DataFrame:
    """V2, one row ``n``: count of duplicated PK values (groupBy + having
    count>1)."""
    return (
        df.groupBy(pk).count().filter(F.col("count") > 1)
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _ri_frame(
    child: DataFrame, fk: str, parent: DataFrame, pk: str, sentinel: int = -1
) -> DataFrame:
    """V4, one row ``n``: distinct child FKs (excluding the −1 sentinel)
    not present in the parent PK set — a hash LEFT ANTI join (reference
    scripts/validation.py:28-45 does this with a quadratic list scan)."""
    child_keys = child.filter(F.col(fk) != sentinel).select(fk).distinct()
    parent_keys = parent.select(F.col(pk).alias(fk))
    return (
        child_keys.join(F.broadcast(parent_keys), fk, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _validate(
    df: DataFrame,
    table: str,
    checks: list[Check],
    extra: Sequence[tuple[str, DataFrame, bool]] = (),
) -> TableReport:
    """Evaluate a table's row checks and its ``(name, one-row count frame,
    critical)`` extras in ONE action: every frame has exactly one row,
    so their cross join is one row holding every count."""
    row_frame = _check_frame(df, checks)
    for name, frame, _ in extra:
        row_frame = row_frame.crossJoin(frame.withColumnRenamed("n", name))
    row = row_frame.collect()[0].asDict()
    rep = TableReport(table=table, total_rows=row.pop("__total"))
    for name, critical in [(c.name, c.critical) for c in checks] + [
        (name, critical) for name, _, critical in extra
    ]:
        rep.results[name] = int(row[name] or 0)
        if critical and rep.results[name] > 0:
            rep.critical.add(name)
    return rep


def run_checks(df: DataFrame, table: str, checks: list[Check]) -> TableReport:
    """Fused single-pass evaluation of row-level checks (V9 fusion)."""
    return _validate(df, table, checks)


def pk_unique_violations(df: DataFrame, pk: str) -> int:
    """V2: count of duplicated PK values."""
    return _pk_dup_frame(df, pk).collect()[0]["n"]


def ri_violations(
    child: DataFrame, fk: str, parent: DataFrame, pk: str, sentinel: int = -1
) -> int:
    """V4: distinct child FKs (excluding the sentinel) missing from the
    parent PK set."""
    return _ri_frame(child, fk, parent, pk, sentinel).collect()[0]["n"]


# --- the reference's four table validators (V9 orchestration) ---------------

EMPLOYEE_STATUS_ENUM = ["active", "inactive", "terminated", "leave"]


def validate_employees(df: DataFrame) -> TableReport:
    """reference scripts/validation.py:63-90."""
    checks = [
        pk_complete("employee_id"),
        required_complete("name"),
        required_complete("salary"),
        required_complete("hire_date"),
        enum_valid("status", EMPLOYEE_STATUS_ENUM),
        conditional(
            "active_salary_positive",
            F.col("status") == "active",
            F.col("salary") <= 0,
        ),
    ]
    return _validate(df, "employees", checks, [
        ("pk_unique_employee_id", _pk_dup_frame(df, "employee_id"), True),
    ])


def validate_reviews(df: DataFrame, employees: DataFrame | None = None) -> TableReport:
    """reference scripts/validation.py:92-107."""
    checks = [
        pk_complete("review_id"),
        required_complete("employee_id"),
        required_complete("review_date"),
        in_range("rating", 1.0, 5.0),
    ]
    extra = [("pk_unique_review_id", _pk_dup_frame(df, "review_id"), False)]
    if employees is not None:
        extra.append((
            "ri_employee_id", _ri_frame(df, "employee_id", employees, "employee_id"), False,
        ))
    return _validate(df, "performance_reviews", checks, extra)


def validate_projects(df: DataFrame) -> TableReport:
    """reference scripts/validation.py:109-121."""
    checks = [
        pk_complete("project_id"),
        required_complete("project_name"),
        required_complete("start_date"),
        positive_or_null("budget"),
    ]
    return _validate(df, "projects", checks, [
        ("pk_unique_project_id", _pk_dup_frame(df, "project_id"), False),
    ])


def validate_assignments(
    df: DataFrame,
    employees: DataFrame | None = None,
    projects: DataFrame | None = None,
) -> TableReport:
    """reference scripts/validation.py:123-134."""
    checks = [
        pk_complete("assignment_id"),
        in_range("allocation_percentage", 0.0, 100.0),
    ]
    extra = []
    if employees is not None:
        extra.append((
            "ri_employee_id", _ri_frame(df, "employee_id", employees, "employee_id"), False,
        ))
    if projects is not None:
        extra.append((
            "ri_project_id", _ri_frame(df, "project_id", projects, "project_id"), False,
        ))
    return _validate(df, "project_assignments", checks, extra)


def dq_stats(reports: list[TableReport]) -> dict:
    """Aggregate pass/fail stats in the reference's shape
    (reference scripts/main.py:135-140)."""
    total = sum(len(r.results) for r in reports)
    failed = sum(r.failed for r in reports)
    return {
        "total_checks": total,
        "passed": total - failed,
        "failed": failed,
        "critical_issues": sum(len(r.critical) for r in reports),
        "issues": [i for r in reports for i in r.issues],
    }
