#!/usr/bin/env python
"""Run bench.py's exact timing loop over a SUBSET of keys (argv), in
bench.py's sorted order, same session config/warmup — for isolating
whether a full-bench reading reproduces in a shorter session.

Usage: python scripts/minibench.py key [key ...]   (or: --first N)
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("flink-audit-sessions-spark-minibench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from flink_audit_sessions_example_spark.plans import QUERIES, flagship
    from flink_audit_sessions_example_spark.sources.tables import load_table

    flagship(spark, sf_dir).write.format("noop").mode("overwrite").save()
    load_table(spark, sf_dir, "events").write.format("noop").mode("overwrite").save()

    args = sys.argv[1:]
    if args and args[0] == "--first":
        keys = sorted(QUERIES)[: int(args[1])]
    else:
        unknown = sorted(set(args) - set(QUERIES))
        if unknown:
            # a typo must not yield a partial run that looks like a
            # valid measurement (ADVICE r15)
            print(f"unknown query keys: {unknown}", file=sys.stderr)
            return 2
        keys = [k for k in sorted(QUERIES) if k in set(args)]

    timings = {}
    for key in keys:
        best = float("inf")
        per = []
        for _ in range(3):
            df = QUERIES[key](spark, sf_dir)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            per.append(round(dt, 3))
            best = min(best, dt)
        timings[key] = round(best, 4)
        print(f"{key:32s} {per} min={best:.3f}", flush=True)

    print(json.dumps(timings))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
