"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``iris_project_database_refresh_spark``; this
module just adapts the plan registry to the driver's interface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from iris_project_database_refresh_spark.plans.registry import ORACLES, QUERIES

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "q5_local_supplier"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (6-way join + agg) on sf0.001."""
    return QUERIES[FLAGSHIP](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
