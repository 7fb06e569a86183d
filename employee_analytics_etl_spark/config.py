"""Pipeline configuration.

The single most important field is ``as_of``: the reference calls
wall-clock ``pd.Timestamp.today()`` inside three operators (reference
scripts/transform.py:25,67,122), which makes results nondeterministic
and untestable. Every derived-date operator in this engine takes the
date from config instead (SURVEY.md §4.3 item 1, §7.3 item 1).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

# The reference's logged run date — pinning to it reproduces the
# committed report numbers (FIXTURES.md §7).
DEFAULT_AS_OF = dt.date(2025, 12, 29)


@dataclass
class PipelineConfig:
    raw_dir: str = "data/raw"
    processed_dir: str = "data/processed"
    report_path: str = "reports/etl_summary_report.txt"
    as_of: dt.date = DEFAULT_AS_OF
    # JDBC load is optional (off unless a URL is configured) — the
    # engine's outputs are DataFrames; DB loading is a sink concern.
    jdbc_url: str | None = None
    jdbc_user: str = ""
    jdbc_password: str = ""

    @property
    def as_of_str(self) -> str:
        return self.as_of.isoformat()
