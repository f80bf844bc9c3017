"""stream_time_decay: O(1)-state continuous decay — state-fn unit
drive (exact power-of-two rescaling, NULL/NaT skip, late events),
cross-micro-batch BIT-equality vs the batch fold under event-time
order, and the HALF_UP emission rounding contract."""

from __future__ import annotations

import os

import datetime as dt
import math

import pandas as pd
import pytest

from conftest import FakeState

from extended_ops.operators.timeseries import (
    time_decay_stats,
)
from extended_ops.streaming.time_decay import (
    _make_decay_fn,
    stream_time_decay,
)

H = 24
BUCKET_S = 3600 * H


def _pdf(rows):
    # the state fn consumes engine-computed epoch micros (_us), never
    # pandas timestamps (session-TZ localized — review r10b)
    return pd.DataFrame(
        {
            "_us": [
                int(pd.Timestamp(r[0]).value // 1_000)
                if r[0] is not None else None
                for r in rows
            ],
            "_v": [r[1] for r in rows],
        }
    )


BASE = dt.datetime(2024, 1, 10)  # midnight UTC: day-aligned buckets


def test_state_fn_rescales_exactly_and_skips_nulls():
    fn = _make_decay_fn(BUCKET_S)
    state = FakeState()
    # batch 1: two events on day 0
    out1 = list(fn(("u",), iter([_pdf([(BASE, 10.0), (BASE, 6.0)])]), state))
    assert out1[0].iloc[0]["decayed_sum"] == 16.0
    assert out1[0].iloc[0]["decayed_weight"] == 2.0
    # batch 2: day+2 event advances the anchor -> old mass shifts 2^-2
    out2 = list(
        fn(
            ("u",),
            iter([_pdf([(BASE + dt.timedelta(days=2), 100.0),
                        (None, 1.0), (BASE, None)])]),
            state,
        )
    )
    r = out2[0].iloc[0]
    assert r["decayed_sum"] == 16.0 * 0.25 + 100.0   # exact shift
    assert r["decayed_weight"] == 2.0 * 0.25 + 1.0
    assert r["n_events"] == 3 and r["ver"] == 3      # NULL rows skipped
    # late (out-of-order) event on day+1: anchor stays, weight 2^-1
    out3 = list(
        fn(("u",), iter([_pdf([(BASE + dt.timedelta(days=1), 8.0)])]), state)
    )
    r3 = out3[0].iloc[0]
    assert r3["decayed_sum"] == 16.0 * 0.25 + 100.0 + 4.0
    assert r3["decayed_weight"] == 2.0 * 0.25 + 1.0 + 0.5


def test_state_fn_deep_rescale_underflows_like_batch():
    """A 2000-bucket jump underflows the old mass to exactly 0.0 —
    the same outcome as the batch twin's pow(2, -2000) weights."""
    fn = _make_decay_fn(BUCKET_S)
    state = FakeState()
    list(fn(("u",), iter([_pdf([(BASE, 10.0)])]), state))
    out = list(
        fn(
            ("u",),
            iter([_pdf([(BASE + dt.timedelta(days=2000), 1.0)])]),
            state,
        )
    )
    r = out[0].iloc[0]
    assert r["decayed_sum"] == 1.0 and r["decayed_weight"] == 1.0
    assert math.ldexp(10.0, -2000) == 0.0  # the identity it relies on


def test_stream_equals_batch_bit_for_bit(spark, tmp_path):
    """Event-time-ordered micro-batches over the real events table:
    every key's final stream emission must equal the batch operator's
    row EXACTLY (same IEEE additions on the same operands)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from conftest import SF_DIR
    from extended_ops.sources.tables import load_table

    events = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "ts", "event_id", "value")
        # per-key (ts, event_id) TOTAL order: equal-ts rows of one key
        # would otherwise reach the stream in nondeterministic collect
        # order while the batch fold sorts them — review r10b
        .orderBy("ts", "event_id")
        .collect()
    )
    rows = [(r.user_id, r.ts, r.event_id, r.value) for r in events]
    d = tmp_path / "ev"
    d.mkdir()
    sch = pa.schema(
        [("user_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("event_id", pa.int64()), ("value", pa.float64())]
    )
    half = len(rows) // 2
    for _i, (name, chunk) in enumerate((("b1.parquet", rows[:half]),
                        ("b2.parquet", rows[half:]))):
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(("user_id", "ts", "event_id", "value"), r))
                 for r in chunk],
                sch,
            ),
            str(d / name),
        )
        # FileStreamSource orders batches by MODIFICATION time;
        # back-to-back writes can share an mtime at its granularity,
        # so pin ascending mtimes (the stream_utils rule) to make
        # batch order — and any order-dependent state — deterministic
        _p = str(d / name)
        os.utime(_p, (1_700_000_000 + _i * 10,
                      1_700_000_000 + _i * 10))
    stream = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp, event_id bigint, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    collected = []
    q = (
        stream_time_decay(
            stream, key_col="user_id", ts_col="ts", value_col="value",
            half_life_hours=H,
        )
        .writeStream.foreachBatch(
            lambda df, _id: collected.extend(df.collect())
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not drain"
    latest = {}
    for r in collected:
        if r.key not in latest or r.ver > latest[r.key].ver:
            latest[r.key] = r
    batch = {
        r.user_id: r
        for r in time_decay_stats(
            spark.createDataFrame(
                rows,
                "user_id bigint, ts timestamp, event_id bigint, "
                "value double",
            ),
            key_col="user_id",
            ts_col="ts",
            value_col="value",
            tiebreak_cols=["event_id"],
            half_life_hours=H,
        ).collect()
    }
    assert set(latest) == set(batch) and latest
    for k, s in latest.items():
        b = batch[k]
        assert s.n_events == b.n_events, k
        assert s.last_ts == b.last_ts, k
        assert s.decayed_sum == b.decayed_sum, k       # EXACT
        assert s.decayed_weight == b.decayed_weight, k


def test_validation(spark):
    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="half_life_hours"):
        stream_time_decay(
            df, key_col="k", ts_col="k", value_col="k", half_life_hours=0
        )


def test_emission_rounding_matches_spark_half_up(spark):
    """The half-boundary double repr('5e-07') must round to 1e-06 (the
    shortest-repr HALF_UP semantics of Spark's round) — Decimal(x) of
    the exact binary expansion would yield 0.0 and Python's builtin
    half-even round would too (review r10b)."""
    fn = _make_decay_fn(BUCKET_S)
    state = FakeState()
    v = math.ldexp(float("5e-07"), 20)  # exact: v * 2^-20 == 5e-07
    list(fn(("u",), iter([_pdf([(BASE, v)])]), state))
    out = list(
        fn(
            ("u",),
            iter([_pdf([(BASE + dt.timedelta(days=20), 0.0)])]),
            state,
        )
    )
    r = out[0].iloc[0]
    assert r["decayed_sum"] == 1e-06
    # the same value through Spark's round, as the ground truth
    got = spark.sql("SELECT round(CAST('5e-07' AS DOUBLE), 6) AS r").collect()
    assert got[0].r == 1e-06


def test_dedup_id_pre_stage_absorbs_redelivery(spark, tmp_path):
    """dedup_id_col (review r12): batch 2 RE-DELIVERS batch 1's rows
    (same event ids) plus one new event. Without the pre-stage the fold
    double-adds their mass; with it, the final emission equals the
    batch operator over the DISTINCT events."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows1 = [
        (7, BASE, 1, 2.0),
        (7, BASE + dt.timedelta(hours=1), 2, 4.0),
    ]
    rows2 = rows1 + [(7, BASE + dt.timedelta(hours=2), 3, 8.0)]
    sch = pa.schema(
        [("user_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("event_id", pa.int64()), ("value", pa.float64())]
    )
    d = tmp_path / "ev"
    d.mkdir()
    for i, chunk in enumerate((rows1, rows2)):
        p = str(d / f"b{i}.parquet")
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(("user_id", "ts", "event_id", "value"), r))
                 for r in chunk],
                sch,
            ),
            p,
        )
        os.utime(p, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp, event_id bigint, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    collected = []
    q = (
        stream_time_decay(
            stream, key_col="user_id", ts_col="ts", value_col="value",
            half_life_hours=H, dedup_id_col="event_id",
            dedup_watermark="365 days",  # test horizon: absorb all
        )
        .writeStream.foreachBatch(
            lambda df, _id: collected.extend(df.collect())
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not drain"
    final = max(
        (r for r in collected if r.key == 7), key=lambda r: r.ver
    )
    batch = time_decay_stats(
        spark.createDataFrame(
            [(u, t, e, v) for u, t, e, v in rows2],
            "user_id bigint, ts timestamp, event_id bigint, value double",
        ),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        half_life_hours=H,
    ).collect()[0]
    assert final.n_events == 3 == batch.n_events
    assert final.decayed_sum == batch.decayed_sum
    assert final.decayed_weight == batch.decayed_weight
