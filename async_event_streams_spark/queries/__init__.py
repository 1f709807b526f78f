"""Query registry: every operator from SURVEY.md §2 registers here.

`QUERIES[name]` is a callable `(spark, sf_dir) -> DataFrame`;
`ORACLES[name]` is the equivalent ANSI SQL DuckDB runs on the same
parquet (absent for non-SQL-expressible ops → driver does a rows-only
check). Column names/aliases are kept identical on both sides because
the driver's compare hashes values after sorting columns by name.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query (and optionally its DuckDB oracle SQL)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Import for side effects: each module registers its queries.
from . import reference  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import tpch  # noqa: E402,F401
from . import temporal  # noqa: E402,F401
from . import llm  # noqa: E402,F401
