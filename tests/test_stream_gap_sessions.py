"""stream_gap_sessions (native session_window twin): boundary-semantics
golden (exactly-at-gap merges — the batch twin's strict-> contract),
NTZ type preservation, out-of-order-within-budget merging plus the
engine's late-event drop, and cross-micro-batch equality of FINALIZED
sessions vs the batch gap_sessions over the real events table (join
key (key, session_start); session_seq is deliberately absent from the
stream — the module docstring states why)."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
from stream_utils import collect_stream_batches

from extended_ops.operators.timeseries import (
    gap_sessions,
)
from extended_ops.streaming.gap_sessions import (
    stream_gap_sessions,
)

_SENTINEL_KEY = -999

# NTZ end-to-end: the loader's events.ts is TIMESTAMP_NTZ, and the
# twin must preserve the input's timestamp flavor (review r11d) — so
# the harness drives NTZ schemas on BOTH sides
_PA_SCHEMA = pa.schema([("user_id", pa.int64()), ("ts", pa.timestamp("us"))])
_DDL = "user_id bigint, ts timestamp_ntz"


def _run_stream(spark, tmp_path, files, gap_minutes=30):
    rows = collect_stream_batches(
        spark,
        tmp_path,
        pa_schema=_PA_SCHEMA,
        ddl_schema=_DDL,
        chunks=[
            [{"user_id": k, "ts": t} for k, t in chunk] for chunk in files
        ],
        make_query=lambda s: stream_gap_sessions(
            s, key_col="user_id", ts_col="ts", gap_minutes=gap_minutes
        ),
        output_mode="append",
    )
    # the sentinel exists only to push the watermark past every real
    # session's finalization point; its own session never finalizes
    return [r for r in rows if r.user_id != _SENTINEL_KEY]


def test_exactly_at_gap_merges_like_batch_and_preserves_ntz(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=30)),      # == gap: SAME session
        (1, base + dt.timedelta(minutes=61)),      # 31 min: NEW session
    ]
    sentinel = [(_SENTINEL_KEY, base + dt.timedelta(days=30))]
    out = _run_stream(spark, tmp_path, [rows, sentinel])
    got = {
        (r.user_id, r.session_start): (
            r.session_end, r.n_events, r.duration_secs
        )
        for r in out
    }
    assert got[(1, base)] == (
        base + dt.timedelta(minutes=30), 2, 1800
    )
    assert got[(1, base + dt.timedelta(minutes=61))] == (
        base + dt.timedelta(minutes=61), 1, 0
    )
    assert len(got) == 2


def test_out_of_order_within_budget_merges_and_late_drops(spark, tmp_path):
    """The two paths where the stream may legitimately diverge from
    batch (review r11d): an earlier-ts event arriving in a LATER file
    within the watermark budget must still merge into its session; an
    event older than the watermark must be DROPPED by the engine."""
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    b1 = [(1, base), (1, base + dt.timedelta(minutes=9))]
    # batch 2 arrives with an OUT-OF-ORDER event 5 min before the
    # current max — inside the 10-minute budget — plus the max-advancer
    b2 = [
        (1, base + dt.timedelta(minutes=12)),
        (1, base + dt.timedelta(minutes=7)),   # late-but-in-budget
    ]
    # batch 3 advances event time far ahead; batch 4 keeps the stream
    # moving (the GLOBAL watermark derived from batch N's max event
    # time only takes effect one batch later — measured on this Spark:
    # an event late relative to batch N is filtered from batch N+2 on);
    # batch 5's event is then hours older than the watermark in force
    # and the engine must drop it
    b3 = [(2, base + dt.timedelta(hours=5))]
    b4 = [(2, base + dt.timedelta(hours=5, minutes=1))]
    b5 = [(1, base + dt.timedelta(minutes=13))]  # hours late: dropped
    sentinel = [(_SENTINEL_KEY, base + dt.timedelta(days=30))]
    out = _run_stream(spark, tmp_path, [b1, b2, b3, b4, b5, sentinel])
    got = {
        (r.user_id, r.session_start): (r.n_events, r.session_end)
        for r in out
    }
    # the in-budget straggler merged: 4 events, end at minute 12 —
    # the hours-late minute-13 event did NOT resurrect the session
    assert got[(1, base)] == (4, base + dt.timedelta(minutes=12))
    assert got[(2, base + dt.timedelta(hours=5))][0] == 2
    assert len(got) == 2


def test_finalized_sessions_equal_batch_on_real_events(spark, tmp_path):
    """Two micro-batches of the real events table (+ the watermark
    sentinel): every finalized streaming session equals the batch
    relation row-for-row on (key, session_start) -> (session_end,
    n_events, duration_secs) — with the batch side fed the LOADER's
    NTZ rows directly, so dtype parity is part of the assertion."""
    from conftest import SF_DIR
    from extended_ops.sources.tables import load_table

    events_df = load_table(spark, SF_DIR, "events").select("user_id", "ts")
    events = events_df.orderBy("ts").collect()
    rows = [(r.user_id, r.ts) for r in events]
    max_ts = max(t for _, t in rows)
    half = len(rows) // 2
    sentinel = [(_SENTINEL_KEY, max_ts + dt.timedelta(days=30))]
    got = {
        (r.user_id, r.session_start): (
            r.session_end, r.n_events, r.duration_secs
        )
        for r in _run_stream(
            spark, tmp_path, [rows[:half], rows[half:] + sentinel]
        )
    }
    batch = {
        (r.user_id, r.session_start): (
            r.session_end, r.n_events, r.duration_secs
        )
        for r in gap_sessions(
            events_df, key_col="user_id", ts_col="ts", gap_minutes=30
        ).collect()
    }
    assert got == batch and got
