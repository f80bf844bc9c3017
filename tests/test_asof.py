"""As-of join unit tests (operators/asof.py) — deterministic tiny fixtures
covering backward lookup, strict precedence, tie-breaking, and no-match
NULLs. The oracle-parity twin is the ``join_asof`` registry entry."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from extended_ops.operators.asof import (
    asof_join,
    asof_prior_value,
)


def _t(m):
    return dt.datetime(2024, 1, 1, 10, m, 0)


def test_asof_join_backward_strict(spark):
    trades = spark.createDataFrame(
        [
            Row(sym="A", t=_t(5), qty=1, seq=1),
            Row(sym="A", t=_t(20), qty=2, seq=2),
            Row(sym="B", t=_t(3), qty=3, seq=3),
        ]
    )
    quotes = spark.createDataFrame(
        [
            Row(sym="A", qt=_t(1), px=10.0, seq=10),
            Row(sym="A", qt=_t(10), px=11.0, seq=11),
            Row(sym="B", qt=_t(4), px=20.0, seq=12),  # after B's trade
        ]
    )
    out = {
        (r.sym, r.seq): r.px_asof
        for r in asof_join(
            trades,
            quotes,
            key_col="sym",
            left_time="t",
            right_time="qt",
            value_col="px",
            out_col="px_asof",
            tiebreak_col="seq",
        ).collect()
    }
    assert out == {("A", 1): 10.0, ("A", 2): 11.0, ("B", 3): None}


def test_asof_join_equal_timestamp_right_first(spark):
    """At identical timestamps the right row sorts first (side marker), so
    the left row sees the simultaneous quote — merge_asof-style
    allow_exact_matches."""
    left = spark.createDataFrame([Row(k="x", t=_t(5), seq=1)])
    right = spark.createDataFrame([Row(k="x", rt=_t(5), v=42.0, seq=0)])
    rows = asof_join(
        left,
        right,
        key_col="k",
        left_time="t",
        right_time="rt",
        value_col="v",
        out_col="v_asof",
        tiebreak_col="seq",
    ).collect()
    assert rows[0].v_asof == 42.0


def test_asof_prior_value_carries_forward_and_resets_per_key(spark):
    df = spark.createDataFrame(
        [
            Row(u=1, t=_t(0), kind="view", val=1.0, i=1),
            Row(u=1, t=_t(5), kind="buy", val=9.0, i=2),
            Row(u=1, t=_t(9), kind="buy", val=9.0, i=3),
            Row(u=2, t=_t(7), kind="buy", val=9.0, i=4),
        ]
    )
    from pyspark.sql import functions as F

    out = asof_prior_value(
        df,
        key_col="u",
        time_col="t",
        tiebreak_col="i",
        source_pred=F.col("kind") == "view",
        value_col="val",
        out_col="prior_view",
    )
    got = {r.i: r.prior_view for r in out.where(F.col("kind") == "buy").collect()}
    assert got == {2: 1.0, 3: 1.0, 4: None}
