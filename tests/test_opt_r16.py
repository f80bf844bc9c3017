"""Optimization round 16 gates: the pin-mode knob, the size-derived
range-partition default, and the co-occurrence skew bound."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from extended_ops.operators import _pins
from extended_ops.operators.quantiles import (
    _MAX_RANGE_PARTITIONS,
    _derived_range_partitions,
    exact_grouped_percentiles,
)


def test_pin_mode_disk_matches_local(spark):
    """The cluster-durability knob (VERDICT r15 item 3): routing every
    pin through persist(DISK_ONLY) — which keeps lineage, so executor
    loss recomputes instead of failing — must be result-identical to
    the localCheckpoint default on a pinned operator."""
    vals = spark.createDataFrame(
        [Row(g="a", v=float(i)) for i in range(20)]
        + [Row(g="b", v=None)]
    )
    base_pct = exact_grouped_percentiles(
        vals, group_col="g", value_col="v", percentiles=[0.5]
    ).collect()
    assert _pins.PIN_MODE == "local"  # the bench/driver default
    _pins.PIN_MODE = "disk"
    try:
        disk_pct = exact_grouped_percentiles(
            vals, group_col="g", value_col="v", percentiles=[0.5]
        ).collect()
    finally:
        _pins.PIN_MODE = "local"
    assert sorted(map(tuple, disk_pct)) == sorted(map(tuple, base_pct))


def test_pin_mode_invalid_is_loud(spark):
    df = spark.range(3)
    _pins.PIN_MODE = "bogus"
    try:
        with pytest.raises(ValueError, match="PIN_MODE"):
            _pins.pin(df)
    finally:
        _pins.PIN_MODE = "local"


def test_derived_range_partitions_tracks_input_size(spark):
    """VERDICT r15 item 3: the default range-partition count derives
    from the input size estimate (~256 MB per partition), floored at
    defaultParallelism — never the bare core count at scale. A tiny
    relation floors; a relation whose Catalyst estimate is ~100 GB
    derives hundreds of partitions; a stat-less estimate (pinned RDD
    inputs report Long.MaxValue) falls back to the floor instead of
    clamping to the maximum."""
    dp = spark.sparkContext.defaultParallelism
    tiny = spark.range(100).select(
        F.col("id").alias("g"), F.col("id").cast("double").alias("v")
    )
    assert _derived_range_partitions(tiny) == dp

    # ~96 GB estimate without materializing anything: a cross join's
    # size estimate multiplies its children's
    big = (
        spark.range(2_000_000)
        .select(F.col("id").alias("a"))
        .crossJoin(spark.range(3_000).select(F.col("id").alias("b")))
    )
    n = _derived_range_partitions(big)
    # ~6e9 rows of two longs ⇒ a few hundred to a few thousand 256 MB
    # chunks depending on Catalyst's per-row accounting — the gate is
    # that it TRACKS the size (far above the core-count floor, well
    # below the clamp), not the exact constant
    assert dp < n <= _MAX_RANGE_PARTITIONS
    assert 100 <= n <= 100_000

    pinned = tiny.localCheckpoint(eager=False)
    assert _derived_range_partitions(pinned) == dp


def test_cooccurrence_hot_token_stays_linear(spark):
    """Skew gate (VERDICT r15 item 6): a Zipf-degenerate document — one
    token repeated n times — may NOT explode quadratically. Pair
    emission is positional (each token pairs only with the next
    ``window`` positions), so the hot token yields exactly
    ``n·window − window·(window+1)/2`` self-pairs, all collapsing
    map-side into ONE (w,w) group — never the n²/2 a posting-list
    self-join would emit."""
    from extended_ops.operators.text import (
        cooccurrence_pairs,
    )

    n, window = 1000, 3
    df = spark.createDataFrame(
        [Row(doc_id=1, text=" ".join(["hot"] * n))]
    )
    rows = cooccurrence_pairs(
        df, window=window, min_count=1
    ).collect()
    assert len(rows) == 1  # one (hot, hot) group, not a pair matrix
    expected = n * window - window * (window + 1) // 2
    assert rows[0].pair_count == expected
