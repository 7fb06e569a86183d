"""Generate QUERY_INDEX.md: the reverse index from every registry
query to its defining code, oracle status, and the operator it
exercises (first docstring line) — so a driver sample or judge row can
be traced to source in seconds. COVERAGE.md maps SURVEY-op → query
(forward); this is the query → op direction.

Regenerate with ``python tools/gen_query_index.py``; a pytest
(tests/test_entry_contract.py) diffs the committed file against a fresh
render, so the index cannot drift from ``registry.QUERIES``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERY_INDEX.md")


def render() -> str:
    from employee_analytics_etl_spark.plans import load_all

    queries, oracle = load_all()

    lines = [
        "# QUERY_INDEX — registry query → operator → code",
        "",
        "Generated by `tools/gen_query_index.py` (pytest-enforced in sync",
        "with `registry.QUERIES`). One row per `queries()` entry: where it",
        "is defined, whether it carries a DuckDB oracle, and the operator",
        "it exercises (the first line of its docstring). The forward map",
        "(SURVEY §2 op → query) lives in COVERAGE.md.",
        "",
        f"Queries: {len(queries)} — "
        f"with value-hash oracle: {len(oracle)} — "
        f"rows-only: {len(queries) - len(oracle)}",
        "",
        "| Query | Oracle | Defined at | Operator exercised |",
        "|---|---|---|---|",
    ]
    for name in sorted(queries):
        fn = queries[name]
        code = fn.__code__
        rel = os.path.relpath(code.co_filename, os.path.dirname(OUT))
        doc = (fn.__doc__ or "").strip().splitlines()
        first = doc[0].strip() if doc else ""
        # keep the cell one-line and short
        if len(first) > 110:
            first = first[:107] + "..."
        gate = "hash" if name in oracle else "rows-only"
        lines.append(f"| `{name}` | {gate} | `{rel}:{code.co_firstlineno}` | {first} |")
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    text = render()
    with open(OUT, "w") as f:
        f.write(text)
    print(f"wrote {OUT} ({text.count(chr(10))} lines)")


if __name__ == "__main__":
    main()
