"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query (C3-style star join) on sf0.001.
- ``queries()``: every declared query from SURVEY.md §2.d (R/C/S/L series)
  plus the X-series training-data extensions.
- ``oracle_sql()``: DuckDB-equivalent SQL for each query (same column
  names/aliases on both sides).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: star join revenue by region on sf0.001."""
    from social_warner_spark.queries.c_series import c3_star_join
    from social_warner_spark.session import prepare_session

    return c3_star_join(prepare_session(spark), SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from social_warner_spark.caching import release_persisted_intermediates
    from social_warner_spark.queries import all_queries
    from social_warner_spark.session import prepare_session

    def sequenced(fn: Callable[[SparkSession, str], DataFrame]):
        # Callers run queries back to back on a session they built;
        # each call prepares it and releases the PREVIOUS query's registered
        # persisted intermediates (shingle relations, centroids, edge
        # tables), which keeps memory flat across the run — the same
        # lifecycle bench.py applies.
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_persisted_intermediates()
            return fn(prepare_session(spark), sf_dir)

        return run

    return {name: sequenced(fn) for name, fn in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    from social_warner_spark.queries import all_oracles

    return all_oracles()
