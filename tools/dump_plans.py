#!/usr/bin/env python
"""Dump .explain('formatted') for every registered query (or the named
ones) to <out_dir>/<name>_<suffix>.txt — e.g. plans/r15 for evidence
kept in the repo, or a temporary directory for a one-off check.

Per-process counters (expression ids, Exchange plan ids, RDD ids) are
masked before writing, so two dumps of the same plan compare equal
with plain `diff` even when they come from different processes.

Usage: python tools/dump_plans.py <out_dir> <suffix> [name ...]
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_COUNTERS = re.compile(r"(#|plan_id=|RDD\[)\d+")


def normalize_plan(plan: str) -> str:
    """Replace `#12` expression ids, `plan_id=34` and `RDD[56]` with
    fixed placeholders; everything else is left as Spark printed it."""
    return _COUNTERS.sub(r"\1N", plan)


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from async_event_streams_spark.queries import QUERIES
    from async_event_streams_spark.session import get_spark

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name in names or sorted(QUERIES):
        df = QUERIES[name](spark, sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(normalize_plan(plan))
        print(name)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
