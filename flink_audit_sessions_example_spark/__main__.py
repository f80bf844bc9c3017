"""CLI entry — the analog of the reference's ``main`` (``App.java:136-162``).

Usage (mirrors ``readme.md:15-16`` of the reference)::

    python -m flink_audit_sessions_example_spark app.properties

Reads the same properties keys the reference documents (``readme.md:5-13``):
``audit.path``, ``audit.poll``, ``audit.min_date``, ``session.duration``,
``session.output`` (kafka|print), ``kafka.topic`` + pass-through ``kafka.*``
producer options, plus the required ``session.checkpoint`` (the streaming
checkpoint dir; one per job). Starts the streaming job and blocks until
terminated.
"""

from __future__ import annotations

import sys


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(
            "usage: python -m flink_audit_sessions_example_spark <app.properties>",
            file=sys.stderr,
        )
        return 2

    from pyspark.sql import SparkSession

    from .config import AppConfig
    from .streaming import start_session_query

    cfg = AppConfig.from_properties_file(argv[0])
    spark = (
        SparkSession.builder.appName("audit-denied-sessions")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    query = start_session_query(spark, cfg)
    query.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
