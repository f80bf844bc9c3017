#!/usr/bin/env python
"""Dump .explain('formatted') for the given query keys (construction
only — no actions) to <dir>/<key>_<suffix>.txt (--dir, default the
git-ignored .plans/), plus a one-line structural summary per key:
Exchange count, Python-eval node count, join strategies, scan count.
Iterative keys (bench ITERATIVE_QUERIES) are skipped unless --iterative
is passed, because their construction runs Spark actions.

Usage: python scripts/dump_plans.py --suffix before key...
       python scripts/dump_plans.py --suffix after --top N
"""

from __future__ import annotations

import os
import re
import sys


def main() -> int:
    args = sys.argv[1:]
    out_dir, suffix, top_n, allow_iter = ".plans", "before", None, False
    keys = []
    i = 0
    while i < len(args):
        if args[i] == "--dir":
            out_dir = args[i + 1]; i += 2
        elif args[i] == "--suffix":
            suffix = args[i + 1]; i += 2
        elif args[i] == "--top":
            top_n = int(args[i + 1]); i += 2
        elif args[i] == "--iterative":
            allow_iter = True; i += 1
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
    from bench import ITERATIVE_QUERIES

    if top_n is not None:
        import json
        rec = json.load(open("BENCH_SELF_sf0.1.json"))
        ordered = sorted(rec["queries"], key=lambda k: -rec["queries"][k])
        keys = [k for k in ordered if allow_iter or k not in ITERATIVE_QUERIES][:top_n]

    os.makedirs(out_dir, exist_ok=True)
    for key in keys:
        if key in ITERATIVE_QUERIES and not allow_iter:
            print(f"{key}: skipped (iterative construction)")
            continue
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
