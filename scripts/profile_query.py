#!/usr/bin/env python
"""Per-query profiler for the optimization rounds (guide §1).

For each query key given on argv: build the plan, dump
``.explain("formatted")`` to the git-ignored ``.plans/<key>_<tag>.txt``
(under ``.plans/$SPARK_GRAFT_PLAN_DIR/`` when that is set), run the noop
sink three times (same methodology as bench.py), and print a per-run
job/stage breakdown from the live Spark REST API — wall per job, task
counts, shuffle read/write bytes — so the expensive stage is identified
empirically, not by guesswork.

Usage:
    python scripts/profile_query.py [--tag before] key [key ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request


def _rest(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/{path}") as r:
        return json.load(r)


def main() -> int:
    args = sys.argv[1:]
    tag = "before"
    if args and args[0] == "--tag":
        tag = args[1]
        args = args[2:]
    keys = args
    if not keys:
        print("usage: profile_query.py [--tag T] key [key ...]", file=sys.stderr)
        return 2

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile-query")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4049")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    from flink_audit_sessions_example_spark.plans import QUERIES, flagship
    from flink_audit_sessions_example_spark.sources.tables import load_table

    # warmup identical to bench.py
    flagship(spark, sf_dir).write.format("noop").mode("overwrite").save()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()

    def _identity(batches):
        yield from batches

    (
        spark.range(0, 10_000, 1, int(cpus))
        .mapInPandas(_identity, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".plans", os.environ.get("SPARK_GRAFT_PLAN_DIR", ""),
    )
    os.makedirs(out_dir, exist_ok=True)

    from bench import ITERATIVE_QUERIES  # noqa: E402  (repo root on path)

    for key in keys:
        if key not in QUERIES:
            print(f"!! unknown key {key}")
            continue
        print(f"\n===== {key} =====")
        runs = []
        for run in range(3):
            jobs_before = {j["jobId"] for j in _rest(base, f"applications/{app_id}/jobs")}
            spark.sparkContext.setJobDescription(f"{key} run{run}")
            if key in ITERATIVE_QUERIES:
                t0 = time.perf_counter()
                df = QUERIES[key](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            else:
                df = QUERIES[key](spark, sf_dir)
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            spark.sparkContext.setJobDescription(None)
            runs.append(dt)
            if run == 0:
                # dump the formatted plan once (post-construction)
                with open(os.path.join(out_dir, f"{key}_{tag}.txt"), "w") as f:
                    f.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
            if run == 2:
                jobs = [
                    j for j in _rest(base, f"applications/{app_id}/jobs")
                    if j["jobId"] not in jobs_before
                ]
                jobs.sort(key=lambda j: j["jobId"])
                print(f"  run{run}: {dt:.3f}s, {len(jobs)} jobs")
                for j in jobs:
                    sub = j.get("submissionTime", "")
                    comp = j.get("completionTime", "")
                    nt = j.get("numCompletedTasks", 0)
                    st = j.get("stageIds", [])
                    # job wall from timestamps
                    def _ts(s):
                        from datetime import datetime
                        return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
                    wall = (
                        (_ts(comp) - _ts(sub)).total_seconds()
                        if sub and comp else float("nan")
                    )
                    print(
                        f"    job {j['jobId']:>4} {wall:7.3f}s tasks={nt:<4}"
                        f" stages={st}"
                    )
                # stage-level detail for this run's stages, sorted by wall
                stages = _rest(base, f"applications/{app_id}/stages?status=complete")
                sids = {s for j in jobs for s in j["stageIds"]}
                mine = [s for s in stages if s["stageId"] in sids]
                mine.sort(key=lambda s: -(s.get("executorRunTime", 0)))
                for s in mine[:12]:
                    print(
                        f"    stage {s['stageId']:>4} runTime={s['executorRunTime']/1000:7.3f}s"
                        f" tasks={s['numCompleteTasks']:<4}"
                        f" shW={s.get('shuffleWriteBytes',0):>9}"
                        f" shR={s.get('shuffleReadBytes',0):>9}"
                        f" in={s.get('inputBytes',0):>9}"
                        f"  {s['name'][:60]}"
                    )
        print(f"  times: {[round(r,3) for r in runs]}  min={min(runs):.3f}")

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
