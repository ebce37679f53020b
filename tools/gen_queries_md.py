#!/usr/bin/env python
"""Regenerate QUERIES.md from plans/registry.py (run from repo root)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_functions_financial_spark.plans.registry import _collect

_PKG = "datafusion_functions_financial_spark."


def render() -> str:
    """QUERIES.md's full text for the live registry."""
    pairs = _collect()
    lines = [
        f"# QUERIES — the {len(pairs)} gate queries and their DuckDB oracles",
        "",
        "Auto-generated from `plans/registry.py`"
        " (`python tools/gen_queries_md.py`). Every query is a PySpark",
        "DataFrame plan (see COVERAGE.md for module locations); the oracle is",
        "the ANSI SQL the driver runs in DuckDB for the value-hash compare.",
    ]
    for name in sorted(pairs):
        fn, sql = pairs[name]
        where = f"{fn.__module__}.{fn.__qualname__}".removeprefix(_PKG)
        lines += ["", f"## {name}", "", f"Spark builder: `{where}`", ""]
        if sql is None:
            lines.append("(no SQL oracle: rows-only check)")
        else:
            lines += ["```sql", sql.strip(), "```"]
    return "\n".join(lines) + "\n"


def main() -> None:
    text = render()
    with open("QUERIES.md", "w") as f:
        f.write(text)
    print(text.splitlines()[0])


if __name__ == "__main__":
    main()
