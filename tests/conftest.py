"""Shared pytest fixtures: one local SparkSession per test session.

Mirrors the driver's runtime: local mode, AQE on, UTC session timezone so
timestamp values compare cleanly against DuckDB's naive timestamps.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("flink-audit-sessions-example-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        # real Python tracebacks when an Arrow worker dies mid-batch
        # (a transient "worker exited unexpectedly" is unactionable
        # without this)
        .config("spark.python.worker.faulthandler.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()
