"""stream_transitions: O(1)-state continuous transition counting —
state-fn unit drive (cross-batch last-type carry, intra-batch disorder
repair, NULL skip) and EXACT cross-micro-batch count equality vs the
batch event_transitions over the real events table."""

from __future__ import annotations

import pandas as pd
from conftest import FakeState

from extended_ops.operators.timeseries import (
    event_transitions,
)
from extended_ops.streaming.transitions import (
    _make_transitions_fn,
    stream_transitions,
)


def _pdf(rows):
    return pd.DataFrame(
        {
            "_us": [r[0] for r in rows],
            "_tb": [r[1] for r in rows],
            "_t": [r[2] for r in rows],
        }
    )


def test_state_fn_carries_last_type_across_batches():
    fn = _make_transitions_fn()
    state = FakeState()
    out1 = list(fn(("u",), iter([_pdf([(10, 1, "a"), (20, 2, "b")])]), state))
    got1 = {
        (r.from_type, r.to_type): r.inc for _, r in out1[0].iterrows()
    }
    assert got1 == {("a", "b"): 1}
    # next batch: the FIRST event pairs with the carried last type 'b'
    out2 = list(fn(("u",), iter([_pdf([(30, 3, "c")])]), state))
    got2 = {
        (r.from_type, r.to_type): r.inc for _, r in out2[0].iterrows()
    }
    assert got2 == {("b", "c"): 1}


def test_state_fn_repairs_intra_batch_disorder_and_skips_nulls():
    fn = _make_transitions_fn()
    state = FakeState()
    # arrival order scrambled; (us, tiebreak) order is a->b->c; NULL
    # ts/type rows vanish
    out = list(
        fn(
            ("u",),
            iter([_pdf([
                (30, 3, "c"), (10, 1, "a"), (20, 2, "b"),
                (None, 9, "x"), (40, 4, None),
            ])]),
            state,
        )
    )
    got = {(r.from_type, r.to_type): r.inc for _, r in out[0].iterrows()}
    assert got == {("a", "b"): 1, ("b", "c"): 1}
    # equal-ts tie broken by tiebreak: 2 then 1 by id order
    out2 = list(fn(("u",), iter([_pdf([(50, 6, "e"), (50, 5, "d")])]), state))
    got2 = {(r.from_type, r.to_type): r.inc for _, r in out2[0].iterrows()}
    assert got2 == {("c", "d"): 1, ("d", "e"): 1}


def test_empty_batch_emits_nothing_and_keeps_state():
    fn = _make_transitions_fn()
    state = FakeState()
    list(fn(("u",), iter([_pdf([(10, 1, "a")])]), state))
    before = state.get
    assert list(fn(("u",), iter([_pdf([])]), state)) == []
    assert state.get == before


def test_stream_counts_equal_batch_exactly(spark, tmp_path):
    """Two micro-batches over the real events table: the summed
    increments must equal event_transitions' n_transitions EXACTLY
    (integer counts — no floating-point regime to scope)."""
    import pyarrow as pa

    from conftest import SF_DIR
    from stream_utils import collect_stream_batches
    from extended_ops.sources.tables import load_table

    events = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "ts", "event_id", "event_type")
        # global (ts, event_id) order implies per-key event-time order
        .orderBy("ts", "event_id")
        .collect()
    )
    rows = [(r.user_id, r.ts, r.event_id, r.event_type) for r in events]
    sch = pa.schema(
        [("user_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("event_id", pa.int64()), ("event_type", pa.string())]
    )
    cols = ("user_id", "ts", "event_id", "event_type")
    half = len(rows) // 2
    collected = collect_stream_batches(
        spark,
        tmp_path,
        pa_schema=sch,
        ddl_schema=(
            "user_id bigint, ts timestamp, event_id bigint, "
            "event_type string"
        ),
        chunks=[
            [dict(zip(cols, r)) for r in rows[:half]],
            [dict(zip(cols, r)) for r in rows[half:]],
        ],
        make_query=lambda s: stream_transitions(
            s, key_col="user_id", type_col="event_type",
            ts_col="ts", tiebreak_col="event_id",
        ),
        output_mode="append",
    )
    summed: dict = {}
    for r in collected:
        summed[(r.from_type, r.to_type)] = (
            summed.get((r.from_type, r.to_type), 0) + r.inc
        )
    batch = {
        (r.from_type, r.to_type): r.n_transitions
        for r in event_transitions(
            spark.createDataFrame(
                rows,
                "user_id bigint, ts timestamp, event_id bigint, "
                "event_type string",
            ),
            key_col="user_id",
            type_col="event_type",
            ts_col="ts",
            tiebreak_cols=["event_id"],
        ).collect()
    }
    assert summed == batch and summed
