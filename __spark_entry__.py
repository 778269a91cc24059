"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

Implementation lives in ``sandbox_data_pipeline_spark``; this module
only aggregates the registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sandbox_data_pipeline_spark.queries import registry

_QUERIES, _ORACLE = registry()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q3-shaped
    shipping-priority query — scan+filter+join+agg+sort+limit in one
    Catalyst plan (see sandbox_data_pipeline_spark/plans/flagship.py)."""
    from sandbox_data_pipeline_spark.plans.flagship import flagship_query

    return flagship_query(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query; omitted keys (non-SQL-
    expressible ops) get the driver's weaker rows-only check."""
    return dict(_ORACLE)
