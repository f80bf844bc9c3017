"""asof_nearest (bidirectional nearest-event join): DuckDB cross-engine
parity via an INDEPENDENT correlated-subquery formulation on real events,
hand-computed direction/tie/tolerance edges, and the one-window plan gate."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.asof import asof_nearest
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _JOIN_ASOF_NEAREST_ORACLE as NEAREST_ORACLE,
)

# independent formulation: per purchase, rank the user's error events by
# |time distance|, backward-beats-forward on ties, and within equal-time
# rights greatest id backward / smallest id forward


def _sides(spark):
    ev = load_table(spark, SF_DIR, "events")
    left = ev.where("event_type = 'purchase'").select(
        "user_id", "ts", "event_id"
    )
    right = ev.where("event_type = 'error'").select(
        "user_id", "ts", F.col("event_id").alias("err_id")
    )
    return left, right


def test_asof_nearest_matches_duckdb(spark):
    left, right = _sides(spark)
    got = asof_nearest(
        left, right.withColumnRenamed("err_id", "event_id"),
        key_col="user_id", left_time="ts", right_time="ts",
        value_col="event_id", out_col="nearest_error_id",
        tiebreak_col="event_id",
    )
    assert_parity(got, NEAREST_ORACLE, SF_DIR)
    rows = got.collect()
    # non-vacuity: most purchases have a nearby error; users with no
    # error at all yield NULL
    assert sum(r.nearest_error_id is not None for r in rows) > 0


def test_asof_nearest_directions_ties_tolerance(spark):
    left = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1),  # nearest is BEFORE (09:59 vs 10:02)
            (1, "2024-01-01 10:01:30", 2),  # nearest is AFTER (10:02)
            (1, "2024-01-01 10:00:30", 3),  # 90s back vs 90s fwd -> tie -> back
            (2, "2024-01-01 12:00:00", 4),  # no right rows for key 2 -> NULL
        ],
        "k int, ts string, id int",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "id")
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:59:00", 100),
            (1, "2024-01-01 10:02:00", 200),
        ],
        "k int, ts string, id int",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "id")
    got = {
        r.id: r.near
        for r in asof_nearest(
            left, right, key_col="k", left_time="ts", right_time="ts",
            value_col="id", out_col="near", tiebreak_col="id",
        ).collect()
    }
    assert got == {1: 100, 2: 200, 3: 100, 4: None}

    # tolerance: cap at 1 minute -> id=1 keeps its 60s match; id=2 is
    # 30s from 10:02 -> kept; id=3 is 90s from both -> NULL
    got_tol = {
        r.id: r.near
        for r in asof_nearest(
            left, right, key_col="k", left_time="ts", right_time="ts",
            value_col="id", out_col="near", tiebreak_col="id",
            max_distance="1 minute",
        ).collect()
    }
    assert got_tol == {1: 100, 2: 200, 3: None, 4: None}


def test_asof_nearest_equal_time_tiebreaks(spark):
    """Two right rows at the exact left time: distance 0 backward (right
    sorts before left at equal t), greatest tiebreak wins; and a
    same-time forward candidate can never beat a distance-0 backward."""
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1)], "k int, ts string, id int"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "id")
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7),
            (1, "2024-01-01 10:00:00", 9),
            (1, "2024-01-01 10:00:01", 500),
        ],
        "k int, ts string, id int",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "id")
    got = asof_nearest(
        left, right, key_col="k", left_time="ts", right_time="ts",
        value_col="id", out_col="near", tiebreak_col="id",
    ).collect()
    assert got[0].near == 9


def test_asof_nearest_plan_one_window_one_exchange(spark):
    """Scale gate: both directed frames run in ONE WindowExec over one
    hash exchange — never a range self-join, never two sorts."""
    left, right = _sides(spark)
    plan = (
        asof_nearest(
            left, right.withColumnRenamed("err_id", "event_id"),
            key_col="user_id", left_time="ts", right_time="ts",
            value_col="event_id", out_col="near", tiebreak_col="event_id",
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Window ") == 1 or plan.count("Window [") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_max_distance_validation(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1)], "k int, ts string, id int"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "id")
    with pytest.raises(Exception):
        # calendar units have no fixed width; pandas rejects them
        asof_nearest(
            left, left, key_col="k", left_time="ts", right_time="ts",
            value_col="id", out_col="near", tiebreak_col="id",
            max_distance="1 month",
        )
    with pytest.raises(ValueError, match="max_distance"):
        asof_nearest(
            left, left, key_col="k", left_time="ts", right_time="ts",
            value_col="id", out_col="near", tiebreak_col="id",
            max_distance="0 seconds",
        )
