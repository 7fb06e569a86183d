"""Data-quality validation suite (SURVEY.md §2.9, V1-V9).

The reference evaluates each check as a separate eager pandas pass
(reference scripts/validation.py:12-57). Here every check is counted by
an action the pipeline runs anyway, or by one shared pass:

- Row checks (V1, V3, V5-V8) are declarative ``Check``s (name +
  violation predicate + severity). ``row_check_metrics`` fuses a table's
  checks into aggregate columns,

      count(1), count_if(pred1), count_if(pred2), ...

  which ``run_pipeline`` evaluates in the action that fills the table's
  cache, as ``DataFrame.observe`` metrics or as the aggregate itself:
  no scan of its own (SURVEY.md §4.3 item 3).
- Key checks (V2 primary-key duplicates, V4 referential integrity) are
  one grouped pass over every key column (``key_violations``), replacing
  the reference's O(n·m) Python list scan (reference
  scripts/validation.py:41) and a join per check.
- The four table validators assemble each table's report from those
  counts and the row checks they were counted for.

At scale: the row checks add no pass; the key pass shuffles one
(domain, key, source) row per key value, a few bytes each.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce

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


# --- each table's row checks (reference scripts/validation.py:63-134) -------

EMPLOYEE_STATUS_ENUM = ["active", "inactive", "terminated", "leave"]


def employee_checks() -> list[Check]:
    """reference scripts/validation.py:63-90."""
    return [
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


def review_checks() -> list[Check]:
    """reference scripts/validation.py:92-107."""
    return [
        pk_complete("review_id"),
        required_complete("employee_id"),
        required_complete("review_date"),
        in_range("rating", 1.0, 5.0),
    ]


def project_checks() -> list[Check]:
    """reference scripts/validation.py:109-121."""
    return [
        pk_complete("project_id"),
        required_complete("project_name"),
        required_complete("start_date"),
        positive_or_null("budget"),
    ]


def assignment_checks() -> list[Check]:
    """reference scripts/validation.py:123-134."""
    return [
        pk_complete("assignment_id"),
        in_range("allocation_percentage", 0.0, 100.0),
    ]


ROW_CHECKS: dict[str, Callable[[], list[Check]]] = {
    "departments": list,
    "employees": employee_checks,
    "performance_reviews": review_checks,
    "projects": project_checks,
    "project_assignments": assignment_checks,
}

# V2: each checked table's primary key, and whether a duplicate is critical
PRIMARY_KEYS = {
    "employees": ("employee_id", True),
    "performance_reviews": ("review_id", False),
    "projects": ("project_id", False),
}
# V4: each child table's foreign keys as (column, parent table)
FOREIGN_KEYS = {
    "performance_reviews": [("employee_id", "employees")],
    "project_assignments": [("employee_id", "employees"), ("project_id", "projects")],
}


def row_check_metrics(checks: list[Check]) -> list[Column]:
    """Aggregate columns: ``__total`` (the row count) plus one violation
    count per check (V9 fusion)."""
    return [
        F.count(F.lit(1)).alias("__total"),
        *[
            F.count_if(c.violation).alias(c.name)
            for c in checks
        ],
    ]


def key_violations(tables: dict[str, DataFrame]) -> dict[str, dict[str, int]]:
    """V2 and V4 in one action: ``{table: {check name: count}}``.

    Every key column becomes rows ``(domain, key, source)``: a primary
    key is the parent in its own table's domain, a foreign key a child
    in its parent table's domain. One grouping by (domain, key) counts
    each source's rows per key; one global aggregate then counts

    - ``pk_unique_<pk>``: keys with more than one parent row (the null
      key is one group, as in a ``groupBy(pk)``);
    - ``ri_<fk>``: non-null child keys other than the −1 sentinel
      that have no parent row (reference scripts/validation.py:28-45).
    """
    domains = list(PRIMARY_KEYS)
    # (reported table, check name, key column, domain); the parents come
    # first, so a domain's number is also its parent source's number
    sources = [(t, f"pk_unique_{pk}", pk, t) for t, (pk, _) in PRIMARY_KEYS.items()]
    sources += [
        (t, f"ri_{fk}", fk, parent)
        for t, fks in FOREIGN_KEYS.items()
        for fk, parent in fks
    ]
    keys = reduce(DataFrame.union, [
        tables[t].selectExpr(f"{domains.index(d)} AS domain", f"{col} AS key", f"{i} AS src")
        for i, (t, _, col, d) in enumerate(sources)
    ])
    per_key = keys.groupBy("domain", "key").agg(
        *[F.expr(f"count_if(src = {i}) AS n{i}") for i in range(len(sources))]
    )
    # −1 is the cleaned null-FK sentinel (C8); for a null key, key <> -1
    # is null, so a null child key is never counted either
    row = per_key.selectExpr(*[
        f"count_if(n{i} > 1) AS v{i}" if i < len(domains)
        else f"count_if(n{i} > 0 AND n{domains.index(d)} = 0 AND key <> -1) AS v{i}"
        for i, (_, _, _, d) in enumerate(sources)
    ]).collect()[0]
    out: dict[str, dict[str, int]] = {}
    for i, (table, name, _, _) in enumerate(sources):
        out.setdefault(table, {})[name] = row[f"v{i}"]
    return out


def _report(table: str, checks: list[Check], counts: dict[str, int]) -> TableReport:
    """``table``'s report from ``counts``: ``__total`` and the counts of
    its row ``checks`` (``row_check_metrics``), and of its key checks
    (``key_violations``)."""
    named = [(c.name, c.critical) for c in checks]
    if table in PRIMARY_KEYS:
        pk, critical = PRIMARY_KEYS[table]
        named.append((f"pk_unique_{pk}", critical))
    named += [(f"ri_{fk}", False) for fk, _ in FOREIGN_KEYS.get(table, [])]
    rep = TableReport(table=table, total_rows=counts["__total"])
    for name, critical in named:
        rep.results[name] = counts[name]
        if critical and rep.results[name] > 0:
            rep.critical.add(name)
    return rep


# --- the reference's four table validators (V9 orchestration) ---------------

def validate_employees(checks: list[Check], counts: dict[str, int]) -> TableReport:
    """reference scripts/validation.py:63-90."""
    return _report("employees", checks, counts)


def validate_reviews(checks: list[Check], counts: dict[str, int]) -> TableReport:
    """reference scripts/validation.py:92-107."""
    return _report("performance_reviews", checks, counts)


def validate_projects(checks: list[Check], counts: dict[str, int]) -> TableReport:
    """reference scripts/validation.py:109-121."""
    return _report("projects", checks, counts)


def validate_assignments(checks: list[Check], counts: dict[str, int]) -> TableReport:
    """reference scripts/validation.py:123-134."""
    return _report("project_assignments", checks, counts)


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
