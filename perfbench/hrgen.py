"""Seeded HR input generator and independent pandas goldens.

``write_hr_csvs`` scales the edge rows of FIXTURES.md §1-5 (and of the
unit-test ``hr`` fixture) to ``n_employees``: inactive and zero-salary
employees, null and ghost department ids, salaries on the 50,000/80,000
bucket boundaries, null managers and statuses, a department with no
employees or projects, an exact duplicate department row, duplicate and
out-of-range reviews, self reviews, review-less employees, open-ended,
future, inverted and unbudgeted projects, over-allocated, inverted and
dangling assignments. Departments are Zipf-skewed.

``golden`` re-derives the pipeline's outputs from the same CSVs in
pandas, following the reference transform semantics, and ``check``
compares them with ``run_pipeline``'s volume stats and written CSVs.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd

AS_OF = pd.Timestamp("2025-12-29")
GHOST_DEPT = 999
BOUNDARY_SALARIES = (48_000.0, 50_000.0, 72_000.0, 75_000.0, 80_000.0, 85_000.0)
DEPT_ADJ = "north south east west central global digital core field open".split()
DEPT_NOUN = "sales research support finance legal design people data ops audit".split()
CITIES = ("NYC", "SF", "LA", "CHI", "AUS", "SEA")
FIRST = "ada alan bea carl dana eve finn gail hugo iris jon kim".split()
LAST = "smith jones brown lee khan garcia muller rossi sato silva".split()

HR_FILES = ("departments", "employees", "performance_reviews", "projects", "project_assignments")
# run_pipeline's written output per cleaned input table
CLEANED_OUTPUT = {
    "departments": "dim_departments",
    "employees": "dim_employees",
    "performance_reviews": "fact_performance_reviews",
    "projects": "summary_project_workload",
    "project_assignments": "fact_project_assignments",
}


def _dates(rng, start: str, end: str, size: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return lo + rng.integers(0, span + 1, size)


def _with_nulls(rng, values, share: float) -> pd.Series:
    s = pd.Series(values, dtype="object")
    s[rng.random(len(s)) < share] = None
    return s


def build_hr(seed: int, n_employees: int) -> dict[str, pd.DataFrame]:
    """The five raw HR tables as pandas frames (ISO date strings)."""
    rng = np.random.default_rng(seed)
    n = max(n_employees, 50)
    n_dept = min(len(DEPT_ADJ) * len(DEPT_NOUN), max(6, n // 250))

    dept_ids = np.arange(101, 101 + n_dept)
    names = [f"{DEPT_ADJ[k // len(DEPT_NOUN)]} {DEPT_NOUN[k % len(DEPT_NOUN)]}" for k in range(n_dept)]
    departments = pd.DataFrame({
        "department_id": dept_ids,
        "department_name": names,
        "location": np.asarray(CITIES, dtype=object)[rng.integers(0, len(CITIES), n_dept)],
        "budget": np.round(rng.uniform(1e5, 5e6, n_dept), 2),
        "manager_id": rng.integers(1, n + 1, n_dept).astype("float64"),
    })
    departments.loc[1, "manager_id"] = np.nan
    # whole-row duplicate: clean_departments' distinct removes it
    departments = pd.concat([departments, departments.iloc[[2]]], ignore_index=True)
    # the last department gets no employees and no projects
    staffed = dept_ids[:-1]
    zipf = 1.0 / np.arange(1, len(staffed) + 1) ** 1.1
    zipf /= zipf.sum()

    emp_ids = np.arange(1, n + 1)
    dept_col = pd.Series(rng.choice(staffed, n, p=zipf).astype("float64"))
    r = rng.random(n)
    dept_col[r < 0.005] = np.nan
    dept_col[(r >= 0.005) & (r < 0.01)] = GHOST_DEPT
    salary = np.round(rng.uniform(30_000, 150_000, n), -2)
    salary[: len(BOUNDARY_SALARIES)] = BOUNDARY_SALARIES
    salary[rng.random(n) < 0.01] = 0.0
    status = _with_nulls(
        rng,
        rng.choice(["active", "inactive", "terminated", "leave"], n, p=[0.83, 0.07, 0.05, 0.05]),
        0.03,
    )
    bonus = rng.choice(["Y", "N", "X"], n, p=[0.49, 0.49, 0.02])
    # one of each edge row at fixed positions, whatever n and the seed
    status[6], salary[7], dept_col[8], dept_col[9] = "inactive", 0.0, np.nan, GHOST_DEPT
    status[10], bonus[11] = None, "X"
    manager = _with_nulls(rng, rng.integers(1, n + 1, n), 0.1)
    manager[12] = None
    employees = pd.DataFrame({
        "employee_id": emp_ids,
        "name": [f"{FIRST[a]} {LAST[b]}" for a, b in zip(rng.integers(0, 12, n), rng.integers(0, 10, n))],
        "department_id": dept_col,
        "salary": salary,
        "hire_date": _dates(rng, "2005-01-01", "2025-06-30", n),
        "manager_id": manager,
        "bonus_eligible": bonus,
        "status": status,
    })

    # every tenth employee has no reviews
    reviewed = emp_ids[emp_ids % 10 != 0]
    n_rev = 2 * n
    rev_emp = rng.choice(reviewed, n_rev)
    rev_date = _dates(rng, "2020-01-01", "2025-12-01", n_rev)
    dup = np.flatnonzero(rng.random(n_rev) < 0.03)
    dup = dup[dup > 0]
    rev_emp[dup] = rev_emp[dup - 1]
    rev_date[dup] = rev_date[dup - 1]
    reviewer = _with_nulls(rng, rng.integers(1, n + 1, n_rev), 0.05)
    self_rev = rng.random(n_rev) < 0.02
    self_rev[4] = True
    reviewer[self_rev] = rev_emp[self_rev]
    rev_emp[1], rev_date[1] = rev_emp[0], rev_date[0]  # duplicate review key
    rating = np.round(rng.uniform(0.5, 5.5, n_rev), 1)
    rating[2], rating[3] = 0.5, 5.5
    reviews = pd.DataFrame({
        "review_id": np.arange(1, n_rev + 1),
        "employee_id": rev_emp,
        "review_date": rev_date,
        "rating": rating,
        "reviewer_id": reviewer,
    })

    n_proj = max(8, n // 20)
    p_start = _dates(rng, "2018-01-01", "2025-10-01", n_proj)
    p_end = p_start + rng.integers(30, 1500, n_proj)
    inverted = rng.random(n_proj) < 0.03
    inverted[6] = True
    p_end[inverted] = p_start[inverted] - 10
    p_start[1], p_end[1] = np.datetime64("2025-06-01"), np.datetime64("2026-06-01")
    p_start[2], p_end[2] = np.datetime64("2024-01-01"), np.datetime64("2024-12-31")
    p_end = _with_nulls(rng, np.datetime_as_string(p_end, unit="D"), 0.3)
    p_end[0] = None
    p_end[1:3] = ["2026-06-01", "2024-12-31"]
    budget = np.round(rng.uniform(5e4, 2e6, n_proj), 2)
    rb = rng.random(n_proj)
    budget[(rb < 0.01)] = 0.0
    budget[(rb >= 0.01) & (rb < 0.02)] = -10.0
    budget[4], budget[5] = 0.0, -10.0
    budget = pd.Series(budget)
    budget[(rb >= 0.02) & (rb < 0.05)] = np.nan
    budget[3] = np.nan
    projects = pd.DataFrame({
        "project_id": np.arange(1, n_proj + 1),
        "project_name": [f"project {k}" for k in range(1, n_proj + 1)],
        "department_id": _with_nulls(rng, rng.choice(staffed, n_proj, p=zipf), 0.05),
        "start_date": p_start,
        "end_date": p_end,
        "budget": budget,
        "status": rng.choice(["completed", "in_progress"], n_proj),
    })

    n_asn = (3 * n) // 2
    a_emp = rng.integers(1, n + 1, n_asn)
    a_emp[rng.random(n_asn) < 0.01] = n + 1000  # no such employee
    a_proj = rng.integers(1, n_proj + 1, n_asn)
    a_proj[rng.random(n_asn) < 0.01] = n_proj + 100  # no such project
    a_start = _dates(rng, "2019-01-01", "2025-10-01", n_asn)
    a_emp[3], a_proj[4] = n + 1000, n_proj + 100
    a_stop = a_start + rng.integers(-60, 900, n_asn)
    a_stop[1] = a_start[1] - 30  # inverted dates
    a_end = _with_nulls(rng, np.datetime_as_string(a_stop, unit="D"), 0.25)
    a_end[1], a_end[2] = np.datetime_as_string(a_stop[1], unit="D"), None
    alloc = np.round(rng.uniform(5, 120, n_asn), 1)
    alloc[0] = 120.0
    assignments = pd.DataFrame({
        "assignment_id": np.arange(1, n_asn + 1),
        "employee_id": a_emp,
        "project_id": a_proj,
        "role": rng.choice(["dev", "qa", "lead", "pm"], n_asn),
        "allocation_percentage": alloc,
        "start_date": a_start,
        "end_date": a_end,
    })
    return {
        "departments": departments,
        "employees": employees,
        "performance_reviews": reviews,
        "projects": projects,
        "project_assignments": assignments,
    }


def write_hr_csvs(out_dir: str, seed: int, n_employees: int) -> dict[str, int]:
    """Write the five CSVs; return the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, df in build_hr(seed, n_employees).items():
        df.to_csv(os.path.join(out_dir, f"{name}.csv"), index=False, float_format="%.15g")
        counts[name] = len(df)
    return counts


def _read(raw_dir: str, name: str, dates=()) -> pd.DataFrame:
    return pd.read_csv(os.path.join(raw_dir, f"{name}.csv"), parse_dates=list(dates))


def golden(raw_dir: str) -> dict[str, pd.DataFrame]:
    """Cleaned tables and the three summaries, derived in pandas from
    the raw CSVs (reference transform semantics, as_of pinned)."""
    emp = _read(raw_dir, "employees", ["hire_date"])
    emp = emp[emp["status"] != "inactive"]  # a null status survives
    emp = emp[emp["salary"] != 0]
    emp["department_id"] = emp["department_id"].fillna(-1).astype("int64")
    emp["tenure_years"] = ((AS_OF - emp["hire_date"]).dt.days / 365.25).round(1)
    emp["salary_bucket"] = np.where(
        emp["salary"] < 50_000, "Low", np.where(emp["salary"] <= 80_000, "Medium", "High")
    )

    dept = _read(raw_dir, "departments")
    dept["department_name"] = dept["department_name"].str.title()
    dept = dept.drop_duplicates()

    rev = _read(raw_dir, "performance_reviews", ["review_date"])
    rev = rev.sort_values(["employee_id", "review_date", "review_id"]).drop_duplicates(
        subset=["employee_id", "review_date"], keep="first"
    )
    rev = rev[(rev["rating"] >= 1.0) & (rev["rating"] <= 5.0)]

    proj = _read(raw_dir, "projects", ["start_date", "end_date"])
    proj = proj[proj["budget"].notna() & (proj["budget"] > 0)]
    proj = proj[proj["end_date"].isna() | (proj["start_date"] <= proj["end_date"])]
    proj["project_duration_days"] = (proj["end_date"].fillna(AS_OF) - proj["start_date"]).dt.days
    proj["daily_budget_alloc"] = np.where(
        proj["project_duration_days"] > 0,
        (proj["budget"] / proj["project_duration_days"].where(proj["project_duration_days"] > 0)).round(2),
        0.0,
    )

    asn = _read(raw_dir, "project_assignments", ["start_date", "end_date"])
    asn = asn[asn["allocation_percentage"] <= 100]
    asn = asn[asn["end_date"].isna() | (asn["start_date"] <= asn["end_date"])]

    emp_stats = emp.groupby("department_id").agg(
        total_employees=("employee_id", "count"), avg_salary=("salary", "mean")
    )
    emp_stats["avg_salary"] = emp_stats["avg_salary"].round(2)
    active = proj[proj["end_date"].isna() | (proj["end_date"] > AS_OF)]
    proj_stats = active.groupby("department_id").agg(
        active_projects=("project_id", "count"), total_project_budget=("budget", "sum")
    )
    dept_summary = (
        dept[["department_id", "department_name", "location"]]
        .rename(columns={"department_name": "name"})
        .merge(emp_stats, on="department_id", how="left")
        .merge(proj_stats, on="department_id", how="left")
        .fillna({"total_employees": 0, "avg_salary": 0.0, "active_projects": 0,
                 "total_project_budget": 0.0})
    )

    stats = rev.sort_values("review_date").groupby("employee_id").agg(
        avg_rating=("rating", "mean"),
        review_count=("rating", "count"),
        latest_rating=("rating", "last"),
        latest_review_date=("review_date", "max"),
    )
    stats["avg_rating"] = stats["avg_rating"].round(2)
    emp_perf = (
        emp.merge(dept[["department_id", "department_name"]], on="department_id", how="left")
        .merge(stats, on="employee_id", how="left")
    )
    emp_perf["department_name"] = emp_perf["department_name"].fillna("Unknown")
    emp_perf["review_count"] = emp_perf["review_count"].fillna(0)
    emp_perf = emp_perf[[
        "employee_id", "name", "department_name", "salary", "salary_bucket",
        "tenure_years", "avg_rating", "review_count", "latest_rating", "latest_review_date",
    ]]

    work = asn.groupby("project_id").agg(
        total_team_size=("employee_id", "nunique"),
        total_allocation=("allocation_percentage", "sum"),
        avg_allocation=("allocation_percentage", "mean"),
    )
    work["avg_allocation"] = work["avg_allocation"].round(1)
    proj_work = proj[[
        "project_id", "project_name", "department_id", "budget",
        "project_duration_days", "daily_budget_alloc",
    ]].merge(work, on="project_id", how="left").fillna(
        {"total_team_size": 0, "total_allocation": 0.0, "avg_allocation": 0.0}
    )
    return {
        "employees": emp, "departments": dept, "performance_reviews": rev,
        "projects": proj, "project_assignments": asn,
        "summary_dept_metrics": dept_summary,
        "summary_emp_performance": emp_perf,
        "summary_project_workload": proj_work,
    }


# summary table -> (key, {rounded column: decimals}). Spark rounds the
# exact decimal of a double half-up, pandas rounds the binary value
# half-to-even, and the two engines sum in different orders, so a
# rounded value may differ by one unit in its last place.
SUMMARIES = {
    "summary_dept_metrics": ("department_id", {"avg_salary": 2}),
    "summary_emp_performance": ("employee_id", {"tenure_years": 1, "avg_rating": 2}),
    "summary_project_workload": ("project_id", {"daily_budget_alloc": 2, "avg_allocation": 1}),
}


def read_output(processed_dir: str, name: str) -> pd.DataFrame:
    parts = sorted(glob.glob(os.path.join(processed_dir, name, "*.csv")))
    if not parts:
        raise FileNotFoundError(f"no CSV part files written for {name}")
    return pd.concat([pd.read_csv(p) for p in parts], ignore_index=True)


def _compare(got: pd.DataFrame, want: pd.DataFrame, key: str, rounded) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want[list(got.columns)].sort_values(key).reset_index(drop=True)
    problems = []
    for c in got.columns:
        g, w = got[c], want[c]
        if isinstance(w.dtype, pd.DatetimeTZDtype) or w.dtype.kind == "M":
            w = w.dt.strftime("%Y-%m-%d")
        if g.dtype.kind in "fiu" and w.dtype.kind in "fiu":
            atol = 10.0 ** -rounded[c] + 1e-9 if c in rounded else 1e-6
            ok = np.isclose(g.astype(float), w.astype(float), rtol=1e-12, atol=atol, equal_nan=True)
        else:
            ok = (g.astype(str) == w.astype(str)) | (g.isna() & w.isna())
        if not bool(np.all(ok)):
            bad = int((~np.asarray(ok)).sum())
            problems.append(f"column {c}: {bad} values differ")
    return problems


def check(raw_dir: str, processed_dir: str, volume_stats: dict, generated: dict[str, int],
          want: dict[str, pd.DataFrame]) -> list[str]:
    """Every mismatch between one pipeline run and the goldens: row
    counts conserved from the generated CSVs through ``volume_stats`` to
    the written outputs, and the summary tables' values."""
    problems = []
    for t in HR_FILES:
        vs = volume_stats.get(t, {})
        if vs.get("extracted") != generated[t]:
            problems.append(f"{t}: extracted {vs.get('extracted')} != generated {generated[t]}")
        n_clean = len(want[t])
        if vs.get("cleaned") != n_clean:
            problems.append(f"{t}: cleaned {vs.get('cleaned')} != golden {n_clean}")
        written = len(read_output(processed_dir, CLEANED_OUTPUT[t]))
        if written != n_clean:
            problems.append(f"{CLEANED_OUTPUT[t]}: wrote {written} rows != golden {n_clean}")
    for name, (key, rounded) in SUMMARIES.items():
        got = read_output(processed_dir, name)
        problems += [f"{name}: {p}" for p in _compare(got, want[name], key, rounded)]
    return problems


def edge_rows_present(tables: dict[str, pd.DataFrame]) -> dict[str, bool]:
    """Which FIXTURES.md edge cases a generated input contains."""
    emp, dept = tables["employees"], tables["departments"]
    rev, proj, asn = tables["performance_reviews"], tables["projects"], tables["project_assignments"]
    as_of = AS_OF.date().isoformat()
    p_end = proj["end_date"].astype(str)
    dept_ids = set(dept["department_id"])
    return {
        "inactive_employee": bool((emp["status"] == "inactive").any()),
        "zero_salary": bool((emp["salary"] == 0).any()),
        "null_department": bool(emp["department_id"].isna().any()),
        "ghost_department": bool((~emp["department_id"].dropna().isin(dept_ids)).any()),
        "bucket_boundaries": set(BOUNDARY_SALARIES) <= set(emp["salary"]),
        "null_manager": bool(emp["manager_id"].isna().any()),
        "null_status": bool(emp["status"].isna().any()),
        "dept_null_manager": bool(dept["manager_id"].isna().any()),
        "empty_department": bool(
            set(dept_ids) - set(emp["department_id"].dropna()) - set(proj["department_id"].dropna())
        ),
        "duplicate_department_row": bool(dept.duplicated().any()),
        "multi_review_employee": bool(rev["employee_id"].duplicated().any()),
        "duplicate_review_key": bool(rev.duplicated(["employee_id", "review_date"]).any()),
        "rating_out_of_range": bool(((rev["rating"] < 1) | (rev["rating"] > 5)).any()),
        "self_review": bool((rev["reviewer_id"] == rev["employee_id"]).any()),
        "review_less_employee": bool(set(emp["employee_id"]) - set(rev["employee_id"])),
        "project_open_ended": bool(proj["end_date"].isna().any()),
        "project_active_past_as_of": bool(((p_end > as_of) & proj["end_date"].notna()).any()),
        "project_ended_before_as_of": bool(((p_end < as_of) & proj["end_date"].notna()).any()),
        "project_null_budget": bool(proj["budget"].isna().any()),
        "project_nonpositive_budget": bool((proj["budget"] <= 0).any()),
        "allocation_over_100": bool((asn["allocation_percentage"] > 100).any()),
        "assignment_inverted_dates": bool(
            (asn["end_date"].notna() & (asn["start_date"].astype(str) > asn["end_date"].astype(str))).any()
        ),
        "assignment_open_ended": bool(asn["end_date"].isna().any()),
        "assignment_dangling_fk": bool(
            (~asn["employee_id"].isin(emp["employee_id"])).any()
            and (~asn["project_id"].isin(proj["project_id"])).any()
        ),
        "employee_multi_project": bool(asn["employee_id"].duplicated().any()),
    }

