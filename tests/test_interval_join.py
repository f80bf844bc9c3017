"""interval_join (binned point-in-interval join): DuckDB cross-engine
parity against the naive range join on the real events table, bin-width
invariance, half-open boundary edges, and the no-nested-loop plan gate."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.asof import interval_join
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _JOIN_INTERVAL_ORACLE as INTERVAL_ORACLE,
)

# error events open a 1-day window per user; every other event of the
# same user inside [ts, ts+1d) joins. Overlapping windows (two errors
# within a day) exercise many-to-many.


def _sides(spark):
    ev = load_table(spark, SF_DIR, "events")
    iv = ev.where("event_type = 'error'").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("end_ts"),
        F.col("event_id").alias("interval_id"),
    )
    pt = ev.where("event_type <> 'error'").select("user_id", "ts", "event_id")
    return pt, iv


def test_interval_join_matches_duckdb_range_join(spark):
    pt, iv = _sides(spark)
    got = interval_join(
        pt, iv, on=["user_id"], point_ts="ts",
        start_col="start_ts", end_col="end_ts", bin_width="6 hours",
    )
    assert_parity(got, INTERVAL_ORACLE, SF_DIR)
    # many-to-many is live: at least one point falls in two windows
    dup = (
        got.groupBy("event_id").count().where("count > 1").count()
    )
    assert got.count() > 0 and dup > 0


def test_bin_width_is_an_implementation_detail(spark):
    """The result set must be identical under any bin width — binning
    only routes pairs to an equi-key, the residual predicate decides."""
    pt, iv = _sides(spark)
    base = {
        (r.event_id, r.interval_id)
        for r in interval_join(
            pt, iv, on=["user_id"], point_ts="ts",
            start_col="start_ts", end_col="end_ts", bin_width="6 hours",
        ).collect()
    }
    for width in ("7 hours", "2 days"):
        other = {
            (r.event_id, r.interval_id)
            for r in interval_join(
                pt, iv, on=["user_id"], point_ts="ts",
                start_col="start_ts", end_col="end_ts", bin_width=width,
            ).collect()
        }
        assert other == base, width


def test_half_open_boundaries_and_empty_intervals(spark):
    iv = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", "2024-01-01 11:00:00", 100),
            # empty and inverted intervals match nothing (and must not
            # generate a descending bin sequence)
            (1, "2024-01-01 10:00:00", "2024-01-01 10:00:00", 101),
            (1, "2024-01-01 11:00:00", "2024-01-01 10:00:00", 102),
        ],
        "k int, start_ts string, end_ts string, interval_id int",
    ).select(
        "k",
        F.col("start_ts").cast("timestamp").alias("start_ts"),
        F.col("end_ts").cast("timestamp").alias("end_ts"),
        "interval_id",
    )
    pt = spark.createDataFrame(
        [
            (1, "2024-01-01 09:59:59", 1),  # before -> out
            (1, "2024-01-01 10:00:00", 2),  # exactly start -> IN
            (1, "2024-01-01 10:59:59", 3),  # inside -> in
            (1, "2024-01-01 11:00:00", 4),  # exactly end -> OUT (half-open)
            (2, "2024-01-01 10:30:00", 5),  # wrong key -> out
        ],
        "k int, ts string, point_id int",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "point_id")
    got = {
        (r.point_id, r.interval_id)
        for r in interval_join(
            pt, iv, on=["k"], point_ts="ts",
            start_col="start_ts", end_col="end_ts", bin_width="15 minutes",
        ).collect()
    }
    assert got == {(2, 100), (3, 100)}


def test_oversized_interval_fails_loudly(spark):
    iv = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2025-01-01 00:00:00", 1)],
        "k int, start_ts string, end_ts string, interval_id int",
    ).select(
        "k",
        F.col("start_ts").cast("timestamp").alias("start_ts"),
        F.col("end_ts").cast("timestamp").alias("end_ts"),
        "interval_id",
    )
    pt = spark.createDataFrame(
        [(1, "2024-06-01 00:00:00", 1)], "k int, ts string, point_id int"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "point_id")
    df = interval_join(
        pt, iv, on=["k"], point_ts="ts",
        start_col="start_ts", end_col="end_ts", bin_width="1 minute",
        max_bins_per_interval=1000,
    )
    with pytest.raises(Exception, match="interval_join"):
        df.collect()
    with pytest.raises(ValueError, match="bin_width"):
        interval_join(
            pt, iv, on=["k"], point_ts="ts",
            start_col="start_ts", end_col="end_ts", bin_width="0 seconds",
        )


def test_interval_join_plan_no_nested_loop(spark):
    """Scale gate: the range predicate must NOT compile to
    BroadcastNestedLoopJoin or a cartesian product — the binning rewrite
    makes it a hash-joinable equi-key with the range as residual."""
    pt, iv = _sides(spark)
    plan = (
        interval_join(
            pt, iv, on=["user_id"], point_ts="ts",
            start_col="start_ts", end_col="end_ts", bin_width="6 hours",
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoop" not in plan
    assert "Cartesian" not in plan
    assert "_ij_bin" in plan  # the equi-key the rewrite introduces


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    points=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 3_000)),
        max_size=25,
    ),
    intervals=st.lists(
        st.tuples(
            st.integers(0, 2),       # key
            st.integers(0, 3_000),   # start offset (seconds)
            st.integers(-50, 2_000), # length (negative/zero -> empty)
        ),
        max_size=15,
    ),
    width=st.sampled_from(["1 minute", "7 minutes", "1 hour"]),
)
def test_interval_join_matches_python_range_join(
    spark, points, intervals, width
):
    """Property: for ANY point/interval soup (overlaps, empties,
    inversions, boundary hits) and ANY bin width, the binned join equals
    the naive O(n*m) range join computed in Python."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    pt_rows = [
        (k, base + dt.timedelta(seconds=s), i)
        for i, (k, s) in enumerate(points)
    ]
    iv_rows = [
        (k, base + dt.timedelta(seconds=s),
         base + dt.timedelta(seconds=s + ln), i)
        for i, (k, s, ln) in enumerate(intervals)
    ]
    pt = spark.createDataFrame(
        pt_rows or [(99, base, 0)], "k int, ts timestamp, pid int"
    )
    iv = spark.createDataFrame(
        iv_rows or [(99, base, base, 0)],
        "k int, start_ts timestamp, end_ts timestamp, iid int",
    )
    got = {
        (r.pid, r.iid)
        for r in interval_join(
            pt, iv, on=["k"], point_ts="ts",
            start_col="start_ts", end_col="end_ts", bin_width=width,
        ).collect()
    }
    expect = {
        (pid, iid)
        for (pk, pts, pid) in (pt_rows or [(99, base, 0)])
        for (ik, s, e, iid) in (iv_rows or [(99, base, base, 0)])
        if pk == ik and s <= pts < e
    }
    assert got == expect
