"""Query registry: one entry per implemented operator (SURVEY.md §2).

Each query is a ``(spark, sf_dir) -> DataFrame`` callable; ``ORACLES``
maps the same keys to ANSI SQL that DuckDB runs over the same parquet
tables (views: region nation customer supplier part orders lineitem
events documents embeddings). Column names/aliases match exactly —
the driver's compare hashes values after sorting columns by name.

Queries whose semantics are not SQL-expressible (streaming, UDF-only
surfaces) intentionally have no oracle entry -> rows-only check.

Cache contract: a query MAY ``persist()`` an intermediate that its
returned (lazy) plan references more than once — the cache computes
once within the single materializing action. Those blocks stay pinned
in the CacheManager after the action, so any harness that materializes
many registry queries in one session MUST ``spark.catalog.clearCache()``
between queries (bench.py, tools/check_oracle.py and tools/plan_audit.py
all do). Unpersisting inside the query before returning would silently
defeat the cache: the plan is not materialized yet at that point.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from advisorydatapipeline_spark.plans.advisory_resolution import (
    advisory_resolution,
    advisory_resolution_oracle,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query (decorator). Duplicate names are an import
    error: last-wins shadowing once silently paired one entry's Spark
    plan with another's oracle (round 5, ``binary_file_scan``)."""

    def deco(fn):
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} "
                f"(already {QUERIES[name].__module__})"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


query("flagship_advisory_resolution", advisory_resolution_oracle())(
    advisory_resolution
)

# widen the registry: importing these modules registers their queries
from advisorydatapipeline_spark import queries as _queries  # noqa: E402,F401
