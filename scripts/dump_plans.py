#!/usr/bin/env python
"""Dump .explain('formatted') for the given query keys (construction
only — no actions) to <dir>/<key>_<suffix>.txt (--dir, default the
git-ignored .plans/), plus a one-line structural summary per key:
Exchange count, Python-eval node count, join strategies, scan count.

Usage: python scripts/dump_plans.py [--dir D] --suffix before key...
"""

from __future__ import annotations

import os
import re
import sys


def main() -> int:
    args = sys.argv[1:]
    out_dir, suffix = ".plans", "before"
    keys = []
    i = 0
    while i < len(args):
        if args[i] == "--dir":
            out_dir = args[i + 1]; i += 2
        elif args[i] == "--suffix":
            suffix = args[i + 1]; i += 2
        else:
            keys.append(args[i]); i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dump-plans")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from flink_audit_sessions_example_spark.plans import QUERIES

    os.makedirs(out_dir, exist_ok=True)
    for key in keys:
        df = QUERIES[key](spark, sf_dir)
        txt = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{key}_{suffix}.txt"), "w") as f:
            f.write(txt)
        n_ex = len(re.findall(r"\bExchange\b", txt))
        n_py = len(re.findall(r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow", txt))
        joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)", txt)
        n_scan = len(re.findall(r"Scan parquet|Scan ExistingRDD", txt))
        from collections import Counter
        jc = dict(Counter(joins))
        print(f"{key}: Exchange={n_ex} Py={n_py} scans={n_scan} joins={jc}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
