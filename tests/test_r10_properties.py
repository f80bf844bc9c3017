"""Hypothesis property sweeps for the r10/r11/r12 operators whose
correctness rests on a structural invariant rather than a golden:
skyline dominance, SCD2 merge-equals-rebuild over random splits, and
PIT-join interval membership. Each property is checked against an
independent pure-Python formulation (the pagerank/heavy-hitters
pattern), so a Spark-plan regression cannot hide behind a matching
oracle bug."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

from extended_ops.operators.asof import pit_join
from extended_ops.operators.history import (
    scd2_history,
    scd2_merge,
)
from extended_ops.operators.skyline import skyline_2d

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),   # x (minimize)
            st.integers(min_value=0, max_value=12),   # y (maximize)
        ),
        min_size=1,
        max_size=60,
    )
)
def test_skyline_dominance_property(spark, pts):
    """For random point sets (with heavy coordinate collisions): the
    skyline equals the brute-force undominated set, computed
    independently in Python."""
    rows = [(i, float(x), y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id int, x double, y int")
    got = {r.id for r in skyline_2d(df, min_col="x", max_col="y").collect()}
    expected = {
        i
        for i, (x, y) in enumerate(pts)
        if not any(
            qx <= x and qy >= y and (qx < x or qy > y) for qx, qy in pts
        )
    }
    assert got == expected


@settings(**_SETTINGS)
@given(
    log=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),     # key
            st.integers(min_value=0, max_value=40),    # hour offset
            st.sampled_from(["A", "B", "C", None]),    # attr (incl NULL)
        ),
        min_size=1,
        max_size=40,
    ),
    cut_hour=st.integers(min_value=0, max_value=41),
)
def test_scd2_merge_equals_rebuild_random_splits(spark, log, cut_hour):
    """merge(scd2(base), inc) == scd2(base ∪ inc) for random changelogs
    and random time cutoffs (every row strictly before/at-or-after the
    cut, which satisfies the append contract by construction).
    Duplicate (key, hour) rows get a unique seq so the order is total."""
    base_ts = dt.datetime(2024, 1, 1)
    rows = [
        (k, base_ts + dt.timedelta(hours=h), i, a)
        for i, (k, h, a) in enumerate(log)
    ]
    schema = "k int, ts timestamp, seq int, attr string"
    cut = base_ts + dt.timedelta(hours=cut_hour)
    base = [r for r in rows if r[1] < cut]
    inc = [r for r in rows if r[1] >= cut]
    # assume(), not return: a silent pass would spend scarce examples
    # on vacuous splits — hypothesis regenerates instead (review r10d)
    assume(base and inc)
    kw = dict(
        key_cols=["k"], ts_col="ts", attr_cols=["attr"],
        tiebreak_cols=["seq"],
    )
    merged = scd2_merge(
        scd2_history(spark.createDataFrame(base, schema), **kw),
        spark.createDataFrame(inc, schema),
        **kw,
    )
    scratch = scd2_history(spark.createDataFrame(rows, schema), **kw)

    def norm(out):
        return {
            (r.k, r.version): (r.attr, r.valid_from, r.valid_to,
                               r.is_current)
            for r in out.collect()
        }

    assert norm(merged) == norm(scratch)


@settings(**_SETTINGS)
@given(
    boundaries=st.lists(
        st.integers(min_value=0, max_value=20), min_size=1, max_size=6
    ),
    fact_hours=st.lists(
        st.integers(min_value=-2, max_value=24), min_size=1, max_size=15
    ),
)
def test_pit_join_interval_membership_property(spark, boundaries, fact_hours):
    """pit_join over an SCD2 dimension built from distinct boundaries:
    each fact must receive exactly the version whose half-open interval
    contains its timestamp (independent Python check), NULL outside."""
    base_ts = dt.datetime(2024, 1, 1)
    bs = sorted(set(boundaries))
    dim_rows = []
    for v, h in enumerate(bs, start=1):
        nxt = bs[v] if v < len(bs) else None
        dim_rows.append(
            (
                1,
                base_ts + dt.timedelta(hours=h),
                None if nxt is None else base_ts + dt.timedelta(hours=nxt),
                f"s{v}",
                v,
            )
        )
    dim = spark.createDataFrame(
        dim_rows,
        "k int, valid_from timestamp, valid_to timestamp, "
        "state string, version int",
    )
    facts = spark.createDataFrame(
        [(i, 1, base_ts + dt.timedelta(hours=h))
         for i, h in enumerate(fact_hours)],
        "fid int, k int, ts timestamp",
    )
    got = {
        r.fid: r.state
        for r in pit_join(
            facts, dim, key_cols=["k"], ts_col="ts",
            payload_cols=["state", "version"],
        ).collect()
    }
    for i, h in enumerate(fact_hours):
        t = base_ts + dt.timedelta(hours=h)
        want = None
        for (_, vf, vt, state, _v) in dim_rows:
            if vf <= t and (vt is None or t < vt):
                want = state
        assert got[i] == want, (h, bs)


@settings(**_SETTINGS)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # key
            st.integers(min_value=0, max_value=2000),   # minutes offset
            st.one_of(
                st.none(),
                st.floats(
                    min_value=-1e6, max_value=1e6,
                    allow_nan=False, allow_infinity=False,
                ),
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_time_decay_stream_equals_batch_random(spark, events):
    """The O(1)-state stream fold equals the batch fold bit-for-bit on
    RANDOM event streams delivered in event-time order — including NULL
    values (excluded identically on both sides), same-bucket bursts and
    multi-bucket gaps. Drives the state fn directly (one pdf per
    micro-batch of 7) against the batch operator."""
    import pandas as pd

    from extended_ops.streaming.time_decay import (
        _make_decay_fn,
    )

    base_ts = dt.datetime(2024, 1, 1)
    rows = [
        (k, base_ts + dt.timedelta(minutes=m), i, v)
        for i, (k, m, v) in enumerate(events)
    ]
    rows.sort(key=lambda r: (r[1], r[2]))  # event-time order + seq tie
    batch = {
        r.k: (r.n_events, r.decayed_sum, r.decayed_weight)
        for r in __import__(
            "extended_ops.operators.timeseries",
            fromlist=["time_decay_stats"],
        ).time_decay_stats(
            spark.createDataFrame(
                rows, "k int, ts timestamp, seq int, v double"
            ),
            key_col="k", ts_col="ts", value_col="v",
            tiebreak_cols=["seq"], half_life_hours=1,
        ).collect()
    }

    class _State:
        def __init__(self):
            self._v = None

        exists = property(lambda s: s._v is not None)
        get = property(lambda s: s._v)

        def update(self, v):
            self._v = v

    fn = _make_decay_fn(3600)
    got = {}
    for k in {r[0] for r in rows}:
        mine = [r for r in rows if r[0] == k]
        state = _State()
        last = None
        for i in range(0, len(mine), 7):
            chunk = mine[i : i + 7]
            pdf = pd.DataFrame(
                {
                    "_us": [
                        int(pd.Timestamp(r[1]).value // 1_000)
                        for r in chunk
                    ],
                    "_v": [r[3] for r in chunk],
                }
            )
            for out in fn((k,), iter([pdf]), state):
                last = out.iloc[0]
        if last is not None:
            got[k] = (
                int(last["n_events"]),
                float(last["decayed_sum"]),
                float(last["decayed_weight"]),
            )
    assert got == batch
