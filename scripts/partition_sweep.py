#!/usr/bin/env python
"""Partition-invariance sweep — every registered (query, oracle) pair
replayed under a partitioning that shares no divisor structure
with the standard configs (local[5], spark.sql.shuffle.partitions=7 vs
the suite's local[8]/8 and the bench's local[32]/32).

What it catches: results that depend on physical layout — an
untiebroken window, a first()/head-style aggregate, float summation
order leaking through an unrounded column, a collect_list consumer
assuming arrival order. Every such defect is invisible when the
partition count never changes; this sweep is the standing end-of-round
protocol (BASELINE.md "Verification this round") made reproducible
instead of ad hoc.

Usage: ``python scripts/partition_sweep.py [sf_dir]`` from the repo
root (default /root/testdata/sf0.001 — the suite's gate SF). Exits
non-zero listing every mismatched key.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[5]")
        .config("spark.sql.shuffle.partitions", "7")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from oracle_utils import assert_parity

    from flink_audit_sessions_example_spark.plans import ORACLES, QUERIES

    failed: "list[str]" = []
    for key in sorted(ORACLES):
        try:
            assert_parity(
                QUERIES[key](spark, sf_dir), ORACLES[key], sf_dir, min_rows=1
            )
            print(f"OK {key}", flush=True)
        except Exception as exc:  # noqa: BLE001 — report-all sweep
            failed.append(key)
            print(f"FAIL {key}: {exc}", flush=True)
    spark.stop()
    print(
        f"# sweep: {len(ORACLES) - len(failed)}/{len(ORACLES)} pairs "
        f"invariant under local[5]/7"
    )
    if failed:
        print(f"# MISMATCHES: {failed}")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
