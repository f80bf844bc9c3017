"""Count-Min sketch (count_min_table / cms_estimate): the CMS contract
(est >= true always; est <= true + (e/width)·N at fixed seed) against
exact DuckDB counts on the real corpus, exact-regime equality, merge
law, weighted counts, and the summary-bound plan gate."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.sketches import (
    cms_estimate,
    count_min_table,
)
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _AGG_COUNT_MIN_ORACLE as CMS_BOUND_ORACLE,
)

W, D = 2048, 5

# bound-check shape (the agg_approx_distinct trick): Spark computes the
# estimate AND checks it against the exact per-type count and the CMS
# additive bound; DuckDB pins the exact counts and TRUE rows. At a fixed
# seed the outcome is deterministic.


def _bound(n_rows: int) -> float:
    return math.e / W * n_rows


def test_cms_bound_check_matches_duckdb(spark):
    ev = load_table(spark, SF_DIR, "events")
    cms = count_min_table(ev, "event_type", width=W, depth=D)
    queries = ev.select("event_type").where("event_type IS NOT NULL").distinct()
    est = cms_estimate(cms, queries, "event_type", width=W, depth=D)
    exact = ev.where("event_type IS NOT NULL").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    n = ev.where("event_type IS NOT NULL").count()
    got = est.join(exact, "event_type").select(
        "event_type",
        "true_cnt",
        (
            (F.col("est") >= F.col("true_cnt"))
            & (F.col("est") <= F.col("true_cnt") + F.lit(_bound(n)))
        ).alias("within_bound"),
    )
    assert_parity(got, CMS_BOUND_ORACLE, SF_DIR)


def test_cms_exact_when_no_collisions(spark):
    """5 distinct values in a 2048-wide sketch: collisions are
    (deterministically, at this seed) absent, so estimates are exact."""
    ev = load_table(spark, SF_DIR, "events")
    cms = count_min_table(ev, "event_type", width=W, depth=D)
    queries = ev.select("event_type").where("event_type IS NOT NULL").distinct()
    est = {
        r.event_type: r.est
        for r in cms_estimate(cms, queries, "event_type", width=W, depth=D)
        .collect()
    }
    true = {
        r.event_type: r.c
        for r in ev.where("event_type IS NOT NULL")
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert est == true
    # a never-seen value estimates 0 (or collision mass; at this width
    # and 5 occupied cells per row, deterministically 0)
    ghost = spark.createDataFrame([("nosuchtype",)], "event_type string")
    g = cms_estimate(cms, ghost, "event_type", width=W, depth=D).collect()
    assert g[0].est == 0


def test_cms_merge_is_elementwise_sum(spark):
    """The mergeability that makes CMS a 100 TB sketch: the sketch of a
    union == groupBy(d,bucket).sum of the parts' sketches."""
    ev = load_table(spark, SF_DIR, "events")
    a = ev.where("user_id % 2 = 0")
    b = ev.where("user_id % 2 <> 0")
    whole = {
        (r.d, r.bucket): r.cnt
        for r in count_min_table(ev, "event_type", width=64, depth=3).collect()
    }
    merged = {
        (r.d, r.bucket): r.cnt
        for r in count_min_table(a, "event_type", width=64, depth=3)
        .unionByName(count_min_table(b, "event_type", width=64, depth=3))
        .groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert merged == whole


def test_cms_weighted_and_validation(spark):
    df = spark.createDataFrame(
        [("x", 10), ("x", 5), ("y", None), ("y", 2), (None, 99)],
        "v string, w int",
    )
    cms = count_min_table(df, "v", width=256, depth=3, weight_col="w")
    q = spark.createDataFrame([("x",), ("y",)], "v string")
    est = {
        r.v: r.est
        for r in cms_estimate(cms, q, "v", width=256, depth=3).collect()
    }
    # NULL weight contributes 0; NULL value skipped entirely
    assert est == {"x": 15, "y": 2}
    with pytest.raises(ValueError):
        count_min_table(df, "v", width=1, depth=3)


def test_cms_plan_summary_bound_shuffle(spark):
    """Scale gate: the build is ONE aggregation whose partial collapses
    to <= d*w rows per task before the single exchange — no join, no
    window, no Python; the query side broadcasts the sketch."""
    ev = load_table(spark, SF_DIR, "events")
    build_plan = (
        count_min_table(ev, "event_type", width=W, depth=D)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert build_plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in build_plan
    assert build_plan.index("partial_sum") > build_plan.index(
        "Exchange hashpartitioning"
    )
    assert "Join" not in build_plan
    q = ev.select("event_type").distinct()
    est_plan = (
        cms_estimate(
            count_min_table(ev, "event_type", width=W, depth=D),
            q, "event_type", width=W, depth=D,
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in est_plan
    assert "SortMergeJoin" not in est_plan


def test_cms_builds_as_streaming_aggregation(spark, tmp_path):
    """The payoff of the sketch-IS-a-DataFrame design: the same build
    runs as a streaming aggregation in update mode — the state store
    holds <= d*w counter rows (a-priori bounded regardless of stream
    length/cardinality), and the latest update per (d,bucket) equals the
    batch sketch of everything seen."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "vals"
    os.makedirs(d)
    schema = pa.schema([("v", pa.string())])
    for i, vals in enumerate((["a", "b", "a"], ["b", "c", "a", None])):
        pq.write_table(
            pa.Table.from_pylist([{"v": x} for x in vals], schema),
            str(d / f"b{i}.parquet"),
        )
    stream = (
        spark.readStream.schema("v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        count_min_table(stream, "v", width=32, depth=3)
        .writeStream.format("memory")
        .queryName("t_stream_cms")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # latest update per (d,bucket) == the batch sketch over both files
    updates = spark.table("t_stream_cms").collect()
    final = {}
    for r in updates:
        final[(r.d, r.bucket)] = r.cnt  # memory sink appends in batch order
    batch = {
        (r.d, r.bucket): r.cnt
        for r in count_min_table(
            spark.read.parquet(str(d)), "v", width=32, depth=3
        ).collect()
    }
    assert final == batch
    assert len(batch) <= 3 * 32


def test_cms_estimate_duplicates_nulls_fractional_negative(spark):
    """Review-pinned contracts: duplicate query rows each keep a row;
    NULL query values estimate NULL (never seed-bucket collision mass);
    fractional weights accumulate (no silent bigint truncation);
    negative weights fail loudly."""
    df = spark.createDataFrame(
        [("x", 0.9), ("x", 0.6), ("y", 2.0)], "v string, w double"
    )
    cms = count_min_table(df, "v", width=256, depth=3, weight_col="w")
    q = spark.createDataFrame(
        [("x",), ("x",), (None,)], "v string"
    )
    rows = [
        r.est for r in cms_estimate(cms, q, "v", width=256, depth=3).collect()
    ]
    assert sorted(rows, key=lambda x: (x is None, x)) == [1.5, 1.5, None]
    bad = spark.createDataFrame([("x", -1.0)], "v string, w double")
    with pytest.raises(Exception, match="negative weight"):
        count_min_table(bad, "v", width=256, depth=3, weight_col="w").collect()
