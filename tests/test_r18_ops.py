"""Operator-level tests for the r18 staged families: BPE pair counts
vs hand-computation and vs the learner's first merge, the EWMA fold vs
the direct recursion (including window truncation), and profile_drift
semantics on constructed snapshots."""

from __future__ import annotations

import datetime as dt

import pytest

from extended_ops.operators.bpe import (
    bpe_pair_counts,
    learn_bpe_merges,
)
from extended_ops.operators.profile import (
    profile_drift,
)
from extended_ops.operators.timeseries import (
    ewma_smooth,
)

# ------------------------------------------------------------ BPE pairs


def _wf(spark, rows):
    return spark.createDataFrame(rows, "word string, freq long")


def test_bpe_pair_counts_hand_computed(spark):
    # "ab" x3, "abc" x2: pairs (a,b):5  (b,</w>):3  (b,c):2  (c,</w>):2
    got = {
        (r.a, r.b): r.cnt
        for r in bpe_pair_counts(
            _wf(spark, [("ab", 3), ("abc", 2)])
        ).collect()
    }
    assert got == {
        ("a", "b"): 5,
        ("b", "</w>"): 3,
        ("b", "c"): 2,
        ("c", "</w>"): 2,
    }


def test_bpe_pair_counts_min_count_and_empties(spark):
    rows = [("xy", 1), ("", 5), (None, 7), ("z", 4)]
    got = {
        (r.a, r.b): r.cnt
        for r in bpe_pair_counts(_wf(spark, rows), min_count=2).collect()
    }
    # "xy" pairs have cnt 1 (dropped); "z" contributes (z, </w>) x4
    assert got == {("z", "</w>"): 4}


def test_bpe_pair_counts_argmax_is_first_learned_merge(spark):
    wf = _wf(
        spark,
        [("the", 10), ("then", 4), ("than", 3), ("he", 2)],
    )
    pairs = bpe_pair_counts(wf).collect()
    # deterministic argmax under the learner's (cnt DESC, a, b) order
    best = sorted(pairs, key=lambda r: (-r.cnt, r.a, r.b))[0]
    merges = learn_bpe_merges(wf, n_merges=1)
    assert merges[0] == (best.a, best.b)


# ----------------------------------------------------------------- EWMA


def _py_ewma(xs, alpha, window):
    out = []
    for t in range(len(xs)):
        frame = xs[max(0, t - window + 1): t + 1]
        y = float(frame[0])
        for x in frame[1:]:
            y = y * (1 - alpha) + x * alpha
        out.append(y)
    return out


def _hourly(spark, counts, typ="t"):
    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for i, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, base + dt.timedelta(hours=i), typ))
            eid += 1
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )


@pytest.mark.parametrize("window", [3, 12])
def test_ewma_matches_direct_recursion(spark, window):
    counts = [5, 8, 2, 9, 9, 1, 7, 3, 6, 4]
    got = sorted(
        ewma_smooth(
            _hourly(spark, counts), alpha=0.25, window=window
        ).collect(),
        key=lambda r: r.bucket,
    )
    expect = _py_ewma(counts, 0.25, window)
    assert [r.n for r in got] == counts
    for r, e in zip(got, expect):
        assert r.ewma == pytest.approx(e, abs=1e-6)


def test_ewma_is_partition_invariant(spark):
    """The exactness claim rests on collect_list preserving the ordered
    frame's row order — pin that the fold result is bit-identical
    across input partitionings (1 vs 7 partitions)."""
    df = _hourly(spark, [5, 8, 2, 9, 9, 1, 7, 3, 6, 4])
    one = {
        (r.event_type, r.bucket): r.ewma
        for r in ewma_smooth(df.coalesce(1), alpha=0.25).collect()
    }
    seven = {
        (r.event_type, r.bucket): r.ewma
        for r in ewma_smooth(df.repartition(7), alpha=0.25).collect()
    }
    assert one == seven


def test_ewma_constant_series_is_identity(spark):
    got = ewma_smooth(_hourly(spark, [4] * 6), alpha=0.25).collect()
    assert all(r.ewma == 4.0 for r in got)


def test_ewma_validation(spark):
    df = _hourly(spark, [1])
    with pytest.raises(ValueError, match="alpha"):
        ewma_smooth(df, alpha=0.0)
    with pytest.raises(ValueError, match="window"):
        ewma_smooth(df, window=0)
    with pytest.raises(ValueError, match="bucket"):
        ewma_smooth(df, bucket="decade")


# -------------------------------------------------------- profile drift


def test_profile_drift_constructed_snapshots(spark):
    base = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, None)],
        "id long, cat string",
    )
    new = spark.createDataFrame(
        [(5, "a"), (6, None), (7, None), (8, "c")],
        "id long, cat string",
    )
    got = {
        r.column: r
        for r in profile_drift(base, new, ["id", "cat"]).collect()
    }
    cat = got["cat"]
    assert cat.null_rate_base == pytest.approx(0.25)
    assert cat.null_rate_new == pytest.approx(0.5)
    assert cat.null_rate_delta == pytest.approx(0.25)
    assert cat.n_distinct_base == 2 and cat.n_distinct_new == 2
    assert cat.distinct_ratio == pytest.approx(1.0)
    assert cat.range_changed  # max moved b -> c
    i = got["id"]
    assert i.range_changed  # both extremes moved
    assert i.distinct_ratio == pytest.approx(1.0)


def test_profile_drift_all_null_column_is_not_a_range_change(spark):
    base = spark.createDataFrame([(1, None), (2, None)], "id long, x string")
    new = spark.createDataFrame([(3, None)], "id long, x string")
    r = {
        c.column: c for c in profile_drift(base, new, ["x"]).collect()
    }["x"]
    assert r.null_rate_base == 1.0 and r.null_rate_new == 1.0
    assert not r.range_changed  # NULL extremes compare equal, null-safe
    assert r.distinct_ratio is None  # 0 base distinct -> no claim


def test_profile_drift_empty_half_yields_null_rates(spark):
    base = spark.createDataFrame([(1, "a")], "id long, cat string")
    new = spark.createDataFrame([], "id long, cat string")
    r = {
        c.column: c
        for c in profile_drift(base, new, ["cat"]).collect()
    }["cat"]
    assert r.n_rows_new == 0
    assert r.null_rate_new is None
    assert r.null_rate_delta is None


# ----------------------------------------------------------------- Holt


def _py_holt(xs, alpha, beta, window):
    out = []
    for t in range(len(xs)):
        frame = xs[max(0, t - window + 1): t + 1]
        lev, tr = float(frame[0]), 0.0
        for x in frame[1:]:
            nl = x * alpha + (lev + tr) * (1 - alpha)
            tr = (nl - lev) * beta + tr * (1 - beta)
            lev = nl
        out.append((lev, tr))
    return out


@pytest.mark.parametrize("window", [3, 12])
def test_holt_matches_direct_recursion(spark, window):
    from extended_ops.operators.timeseries import (
        holt_smooth,
    )

    counts = [5, 8, 2, 9, 9, 1, 7, 3, 6, 4]
    got = sorted(
        holt_smooth(
            _hourly(spark, counts), alpha=0.25, beta=0.25, window=window
        ).collect(),
        key=lambda r: r.bucket,
    )
    expect = _py_holt(counts, 0.25, 0.25, window)
    assert [r.n for r in got] == counts
    for r, (lev, tr) in zip(got, expect):
        assert r.level == pytest.approx(lev, abs=1e-6)
        assert r.trend == pytest.approx(tr, abs=1e-6)


def test_holt_constant_series_has_zero_trend(spark):
    from extended_ops.operators.timeseries import (
        holt_smooth,
    )

    got = holt_smooth(_hourly(spark, [4] * 6), alpha=0.25).collect()
    assert all(r.level == 4.0 and r.trend == 0.0 for r in got)


def test_holt_partition_invariant_and_validation(spark):
    from extended_ops.operators.timeseries import (
        holt_smooth,
    )

    df = _hourly(spark, [5, 8, 2, 9, 9, 1, 7, 3, 6, 4])
    one = {
        (r.bucket): (r.level, r.trend)
        for r in holt_smooth(df.coalesce(1)).collect()
    }
    seven = {
        (r.bucket): (r.level, r.trend)
        for r in holt_smooth(df.repartition(7)).collect()
    }
    assert one == seven
    with pytest.raises(ValueError, match="alpha"):
        holt_smooth(df, alpha=0.0)
    with pytest.raises(ValueError, match="beta"):
        holt_smooth(df, beta=1.5)
    with pytest.raises(ValueError, match="window"):
        holt_smooth(df, window=0)
    with pytest.raises(ValueError, match="bucket"):
        holt_smooth(df, bucket="decade")


def test_holt_beta_zero_is_exactly_ewma(spark):
    """Algebraic law: with β = 0 the trend stays at its 0 seed, so the
    level recursion degenerates to the EWMA recursion — the two
    operators must agree BIT-FOR-BIT (same fold machinery, same frame,
    same literals), not approximately. A tolerance here would hide a
    divergence in either fold's op stream."""
    from extended_ops.operators.timeseries import (
        ewma_smooth,
        holt_smooth,
    )

    df = _hourly(spark, [5, 8, 2, 9, 9, 1, 7, 3, 6, 4])
    ew = {
        r.bucket: r.ewma
        for r in ewma_smooth(df, alpha=0.25, window=12).collect()
    }
    ho = {
        r.bucket: (r.level, r.trend)
        for r in holt_smooth(
            df, alpha=0.25, beta=0.0, window=12
        ).collect()
    }
    assert set(ew) == set(ho)
    for b, e in ew.items():
        lev, tr = ho[b]
        assert tr == 0.0
        assert lev == e  # exact equality, no approx
