"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

Implementation lives in ``etl_airbnb_mex_spark.queries`` — one
QuerySpec per operator from SURVEY.md §2, each carrying its Spark
callable and (when SQL-expressible) the DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Self-locate: the driver may exec this file by path from any cwd.
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from etl_airbnb_mex_spark.queries import all_oracle_sql, all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7.1) on /root/testdata/sf0.001:
    scan → filter → hash agg → percent-of-total window → ordered result."""
    from etl_airbnb_mex_spark.queries.core import flagship

    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query above."""
    return all_oracle_sql()
