"""stream_cusum: O(1)-state continuous CUSUM drift monitoring —
state-fn unit drives (bucket closing, cross-batch carry, late-event
drop) and EXACT cross-micro-batch equality vs the batch
``cusum_changepoints(target_rate=...)`` over each key's CLOSED
buckets. Also pins the batch operator's new fixed-reference mode
against the textbook recursion."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from conftest import FakeState

from extended_ops.operators.timeseries import (
    cusum_changepoints,
)
from extended_ops.streaming.cusum import (
    _make_cusum_fn,
    stream_cusum,
)

HOUR_US = 3_600_000_000


def _pdf(bucket_indices):
    return pd.DataFrame({"_bus": [i * HOUR_US for i in bucket_indices]})


def _drive(chunks, target):
    fn = _make_cusum_fn(target)
    state = FakeState()
    last = None
    for chunk in chunks:
        for out in fn(("k",), [_pdf(chunk)], state):
            last = out.iloc[0]
    return last, state


def _py_cusum_fixed(xs, target):
    p = min_p = max_p = 0
    peak_u = peak_d = 0
    iu = idn = None
    for i, x in enumerate(xs):
        p += x - target
        min_p = min(min_p, p)
        max_p = max(max_p, p)
        if p - min_p > peak_u:
            peak_u, iu = p - min_p, i
        if max_p - p > peak_d:
            peak_d, idn = max_p - p, i
    return peak_u, iu, peak_d, idn


def test_state_fn_closes_buckets_and_carries_state():
    # counts per hour: h0 x3, h1 x1, h2 x5 (open; never counted)
    last, state = _drive([[0, 0, 0, 1], [2, 2, 2, 2, 2]], target=2)
    # closed buckets: h0 (x=3), h1 (x=1) -> deviations +1, -1
    pu, iu, pd_, idn = _py_cusum_fixed([3, 1], 2)
    assert last.n_closed == 2
    assert last.cusum_up == float(pu) and last.up_bucket_us == iu * HOUR_US
    assert last.cusum_down == float(pd_)
    assert last.open_bucket_us == 2 * HOUR_US
    # the open bucket's 5 events live only in state
    assert state.get[1] == 5


def test_state_fn_drops_late_events_for_closed_buckets():
    last, _ = _drive([[0, 1, 1], [0, 0, 2]], target=1)  # two h0 lates
    # closed: h0 (x=1), h1 (x=2) — the late h0 events never count
    assert last.n_closed == 2
    pu, _, _, _ = _py_cusum_fixed([1, 2], 1)
    assert last.cusum_up == float(pu)


def test_state_fn_empty_batch_emits_nothing():
    fn = _make_cusum_fn(1)
    state = FakeState()
    assert list(fn(("k",), [pd.DataFrame({"_bus": []})], state)) == []
    assert not state.exists


def test_batch_target_mode_matches_recursion(spark):
    counts = [5, 5, 5, 20, 20, 2, 7]
    base = dt.datetime(2024, 5, 1)
    rows = [
        (i * 100 + j, base + dt.timedelta(hours=i), "t")
        for i, c in enumerate(counts)
        for j in range(c)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    r = cusum_changepoints(df, target_rate=6).collect()[0]
    pu, iu, pd_, idn = _py_cusum_fixed(counts, 6)
    assert r.mean_rate == 6.0
    assert r.cusum_up == float(pu)
    assert r.up_bucket == base + dt.timedelta(hours=iu)
    assert r.cusum_down == float(pd_)
    assert r.down_bucket == base + dt.timedelta(hours=idn)
    with pytest.raises(ValueError, match="integer"):
        cusum_changepoints(df, target_rate=2.5)


def test_batch_zero_peak_has_null_bucket(spark):
    """A series strictly below target never lifts S+ above 0: the up
    peak is 0.0 and its bucket NULL (no meaningful argmax) — mirroring
    the stream twin, whose strictly-greater update never fires."""
    base = dt.datetime(2024, 5, 1)
    rows = [
        (i * 10 + j, base + dt.timedelta(hours=i), "t")
        for i, c in enumerate([1, 1, 2])
        for j in range(c)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    r = cusum_changepoints(df, target_rate=5).collect()[0]
    assert r.cusum_up == 0.0 and r.up_bucket is None
    assert r.cusum_down > 0.0 and r.down_bucket is not None


def test_stream_snapshot_equals_batch_over_closed_buckets(spark, tmp_path):
    """Two micro-batches over the real events table: each key's LAST
    snapshot must equal cusum_changepoints(target_rate=...) computed
    on that key's closed buckets — the same exact-integer arithmetic
    on both sides, so equality is ==, not approx."""
    import pyarrow as pa

    from conftest import SF_DIR
    from stream_utils import collect_stream_batches
    from extended_ops.sources.tables import load_table

    target = 3
    events = (
        load_table(spark, SF_DIR, "events")
        .where("ts IS NOT NULL AND event_type IS NOT NULL")
        .select("event_id", "ts", "event_type")
        .orderBy("ts", "event_id")
        .collect()
    )
    rows = [(r.event_id, r.ts, r.event_type) for r in events]
    sch = pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("event_type", pa.string())]
    )
    cols = ("event_id", "ts", "event_type")
    half = len(rows) // 2
    collected = collect_stream_batches(
        spark,
        tmp_path,
        pa_schema=sch,
        ddl_schema="event_id bigint, ts timestamp, event_type string",
        chunks=[
            [dict(zip(cols, r)) for r in rows[:half]],
            [dict(zip(cols, r)) for r in rows[half:]],
        ],
        make_query=lambda s: stream_cusum(
            s, key_col="event_type", ts_col="ts", target_rate=target
        ),
        output_mode="append",
    )
    latest = {}
    for r in collected:  # snapshots: last one per key wins
        latest[r.event_type] = r
    assert latest
    bdf = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, event_type string"
    )
    for k, snap in latest.items():
        closed = bdf.where(
            (bdf.event_type == k) & (bdf.ts < snap.open_bucket)
        )
        batch = cusum_changepoints(
            closed, target_rate=target
        ).collect()
        assert len(batch) == 1
        b = batch[0]
        assert snap.n_closed == b.n_buckets, k
        assert snap.cusum_up == b.cusum_up, k
        assert snap.cusum_down == b.cusum_down, k
        # unconditional: a zero peak is NULL on BOTH sides now (the
        # batch argmax is gated on peak > 0, matching the stream's
        # strictly-greater update that never fires)
        assert snap.up_bucket == b.up_bucket, k
        assert snap.down_bucket == b.down_bucket, k
