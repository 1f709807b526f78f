#!/usr/bin/env python
"""Generate docs/OPERATORS.md: one row per registered query — name,
defining module:line, oracle coverage, and the docstring's first
sentence. Run after adding operators; the output is
committed so users browse the surface without importing Spark.

Usage: python tools/gen_operator_docs.py
"""

from __future__ import annotations

import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from async_event_streams_spark.queries import ORACLES, QUERIES  # noqa: E402


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", ".\n"):
        i = text.find(stop)
        if i != -1:
            return text[: i + 1]
    return text[:160]


def main() -> None:
    rows = []
    for name in sorted(QUERIES):
        fn = QUERIES[name]
        try:
            src_file = os.path.relpath(inspect.getsourcefile(fn), REPO)
            line = inspect.getsourcelines(fn)[1]
            where = f"{src_file}:{line}"
        except (OSError, TypeError):
            where = "?"
        oracle = "yes" if name in ORACLES else "rows-only"
        rows.append(
            f"| `{name}` | {where} | {oracle} | "
            f"{first_sentence(fn.__doc__)} |"
        )
    out = [
        "# Operator reference",
        "",
        f"{len(QUERIES)} registered queries, {len(ORACLES)} with DuckDB",
        "oracles. Regenerate with `python tools/gen_operator_docs.py`.",
        "",
        "| query | where | oracle | summary |",
        "|---|---|---|---|",
        *rows,
        "",
    ]
    os.makedirs(os.path.join(REPO, "docs"), exist_ok=True)
    with open(os.path.join(REPO, "docs", "OPERATORS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote docs/OPERATORS.md ({len(rows)} operators)")


if __name__ == "__main__":
    main()
