"""stream_backlog: O(1)-state continuous sweep-line — state-fn unit
drives (day closing, cross-batch carry, late-delta drop) and EXACT
cross-micro-batch equality vs the batch ``q_rel_order_backlog``
sweep over the CLOSED days: both sides are the same +1/−1 prefix-sum
arithmetic in exact integers, so equality is ==, not approx."""

from __future__ import annotations

import pandas as pd
from conftest import FakeState

from extended_ops.streaming.backlog import (
    _make_backlog_fn,
    stream_backlog,
)

DAY_US = 86_400_000_000


def _pdf(pairs):
    return pd.DataFrame(
        {
            "_dus": [d * DAY_US for d, _ in pairs],
            "_delta": [x for _, x in pairs],
        }
    )


def _drive(chunks):
    fn = _make_backlog_fn()
    state = FakeState()
    out = []
    for chunk in chunks:
        for df in fn(("all",), [_pdf(chunk)], state):
            out.extend(
                df[["day_us", "delta", "backlog"]].itertuples(
                    index=False, name=None
                )
            )
    return out, state


def test_state_fn_closes_days_and_carries_state():
    # day0: +1 +1; day1: -1; day2 opens (never emitted)
    out, state = _drive(
        [[(0, 1), (0, 1)], [(1, -1), (2, 1)]]
    )
    assert out == [
        (0, 2, 2),       # day0 closes with net +2, backlog 2
        (1 * DAY_US, -1, 1),  # day1 closes with net -1, backlog 1
    ]
    # day2's +1 lives only in state
    assert state.get == (2 * DAY_US, 1, 1)


def test_state_fn_drops_late_deltas_for_closed_days():
    out, _ = _drive([[(0, 1), (1, 1)], [(0, -1), (2, 1)]])
    # the late day-0 "-1" never counts: day0 closed at +1
    assert out == [(0, 1, 1), (1 * DAY_US, 1, 2)]


def test_state_fn_empty_batch_emits_nothing():
    fn = _make_backlog_fn()
    state = FakeState()
    assert list(
        fn(("all",), [pd.DataFrame({"_dus": [], "_delta": []})], state)
    ) == []
    assert not state.exists


def test_stream_equals_batch_sweep_over_closed_days(spark, tmp_path):
    """Two micro-batches of the real tables' open/close events: the
    stream's closed-day rows must equal q_rel_order_backlog restricted
    to days before the stream's open day — same exact-integer
    arithmetic on both sides."""
    import pyarrow as pa

    from conftest import SF_DIR
    from stream_utils import collect_stream_batches
    from extended_ops.plans.staged_r22 import (
        q_rel_order_backlog,
    )
    from extended_ops.sources.tables import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, SF_DIR, "lineitem").where(
        "l_shipdate IS NOT NULL"
    )
    orders = load_table(spark, SF_DIR, "orders")
    close = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("close_ts")
    )
    span = orders.join(
        close, F.col("o_orderkey") == F.col("l_orderkey")
    )
    events = (
        span.select(
            F.col("o_orderdate").alias("ts"), F.lit(1).alias("delta")
        )
        .unionByName(
            span.select(
                F.col("close_ts").alias("ts"),
                F.lit(-1).alias("delta"),
            )
        )
        .orderBy("ts")
        .collect()
    )
    rows = [(r.ts, r.delta) for r in events]
    sch = pa.schema(
        [("ts", pa.timestamp("us")), ("delta", pa.int64())]
    )
    cols = ("ts", "delta")
    half = len(rows) // 2
    collected = collect_stream_batches(
        spark,
        tmp_path,
        pa_schema=sch,
        ddl_schema="ts timestamp, delta bigint",
        chunks=[
            [dict(zip(cols, r)) for r in rows[:half]],
            [dict(zip(cols, r)) for r in rows[half:]],
        ],
        make_query=lambda s: stream_backlog(
            s, ts_col="ts", delta_col="delta"
        ),
        output_mode="append",
    )
    assert collected, "stream emitted nothing"
    got = {(r.day, r.delta, r.backlog) for r in collected}
    open_day = max(r.ts for r in events).date()
    batch = {
        (r.day, r.delta, r.backlog)
        for r in q_rel_order_backlog(spark, SF_DIR).collect()
        if r.day < open_day
    }
    assert got == batch


def test_state_fn_matches_python_sweep_under_arbitrary_chunking():
    """Property: for ANY ordered delta sequence and ANY micro-batch
    chunking, the concatenated closed-day emissions equal the one-shot
    Python sweep over all-but-the-last day — chunk boundaries must be
    invisible (the cross-batch-carry contract)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @st.composite
    def _scenario(draw):
        n = draw(st.integers(min_value=1, max_value=40))
        days = sorted(
            draw(
                st.lists(
                    st.integers(min_value=0, max_value=15),
                    min_size=n,
                    max_size=n,
                )
            )
        )
        deltas = draw(
            st.lists(
                st.sampled_from([-1, 1]), min_size=n, max_size=n
            )
        )
        cuts = sorted(
            draw(
                st.lists(
                    st.integers(min_value=0, max_value=n),
                    min_size=0,
                    max_size=3,
                )
            )
        )
        return list(zip(days, deltas)), cuts

    @given(_scenario())
    @settings(max_examples=200, deadline=None)
    def run(scenario):
        pairs, cuts = scenario
        chunks, prev = [], 0
        for c in cuts + [len(pairs)]:
            if c > prev:
                chunks.append(pairs[prev:c])
                prev = c
        if not chunks:
            chunks = [pairs]
        got, _ = _drive(chunks)
        # reference: one-shot sweep, all days except the open last one
        agg: dict = {}
        for d, x in pairs:
            agg[d] = agg.get(d, 0) + x
        days = sorted(agg)
        expect, run_sum = [], 0
        for d in days[:-1]:
            run_sum += agg[d]
            expect.append((d * DAY_US, agg[d], run_sum))
        assert got == expect

    run()
