"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The implementation lives in :mod:`flink_audit_sessions_example_spark`;
this module just re-exports the registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from flink_audit_sessions_example_spark.plans import ORACLES, QUERIES, flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the reference's core sessionization,
    ``App.java:126-134``) on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per reference-pipeline operator from SURVEY.md §2 (11 keys)."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per key; keys absent here get rows-only checks."""
    return dict(ORACLES)
