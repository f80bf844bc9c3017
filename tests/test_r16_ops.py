"""Contract tests for the r16 staged operators (multi-touch
attribution, rolling distinct, stratified k-fold) and the composed
curation relations. DuckDB hash parity for the full registrations is
pinned by tests/test_staged_r16.py; these pin goldens, edge semantics,
validation and the claimed plan topologies."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR

from extended_ops.operators.corpus import (
    stratified_kfold,
)
from extended_ops.operators.timeseries import (
    next_touch_attribution,
    rolling_distinct,
)
from extended_ops.plans.staged_r16 import (
    STAGED_R16_QUERIES,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_attribution_golden(spark):
    rows = [
        # user 1: two touches -> purchase; then one touch, NO purchase
        (1, _ts("2024-01-01 10:00:00"), 1, "view"),
        (1, _ts("2024-01-01 10:05:00"), 2, "click"),
        (1, _ts("2024-01-01 10:10:00"), 3, "purchase"),
        (1, _ts("2024-01-01 11:00:00"), 4, "view"),
        # user 2: touch OUTSIDE the lookback -> no credit
        (2, _ts("2024-01-01 00:00:00"), 5, "click"),
        (2, _ts("2024-01-10 00:00:00"), 6, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_id int, event_type string"
    )
    got = {
        r.event_type: (r.n_touches, r.linear_credit, r.n_last_touch)
        for r in next_touch_attribution(
            df, key_col="user_id", type_col="event_type", ts_col="ts",
            tiebreak_col="event_id", lookback_hours=24,
        ).collect()
    }
    # user 1's purchase splits 0.5/0.5 view/click; click is the LAST touch
    assert got == {
        "view": (1, 0.5, 0), "click": (1, 0.5, 1),
    }


def test_attribution_same_ts_tiebreak_and_validation(spark):
    """A touch sharing the purchase's timestamp attributes to it iff
    its event_id sorts BEFORE the purchase's in the total order."""
    t = _ts("2024-01-01 10:00:00")
    df = spark.createDataFrame(
        [(1, t, 1, "view"), (1, t, 2, "purchase"), (1, t, 3, "click")],
        "user_id int, ts timestamp, event_id int, event_type string",
    )
    got = {
        r.event_type: r.n_touches
        for r in next_touch_attribution(
            df, key_col="user_id", type_col="event_type", ts_col="ts",
            tiebreak_col="event_id", lookback_hours=24,
        ).collect()
    }
    assert got == {"view": 1}  # click (id 3) is after the purchase
    with pytest.raises(ValueError, match="lookback_hours"):
        next_touch_attribution(
            df, key_col="user_id", type_col="event_type", ts_col="ts",
            tiebreak_col="event_id", lookback_hours=0,
        )


def test_attribution_no_self_join_plan(spark):
    """The claimed shape: ONE window over events, no purchases⋈touches
    self-join — the events relation is scanned exactly once."""
    df = STAGED_R16_QUERIES["win_attribution"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1


def test_rolling_distinct_golden(spark):
    rows = [
        (10, _ts("2024-01-01 00:30:00")),
        (20, _ts("2024-01-01 00:45:00")),
        (10, _ts("2024-01-01 01:30:00")),
        (30, _ts("2024-01-02 05:00:00")),  # > 24h later: fresh window
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    got = {
        r.win_end_hour: r.n_distinct
        for r in rolling_distinct(
            df, entity_col="user_id", ts_col="ts", window_hours=24
        ).collect()
    }
    # active hours only: 00:00 (users 10,20), 01:00 (10,20 within 24h),
    # and day-2 05:00 (only user 30 — the day-1 hours fell out)
    assert got == {
        _ts("2024-01-01 00:00:00"): 2,
        _ts("2024-01-01 01:00:00"): 2,
        _ts("2024-01-02 05:00:00"): 1,
    }
    with pytest.raises(ValueError, match="window_hours"):
        rolling_distinct(
            df, entity_col="user_id", ts_col="ts", window_hours=0
        )


def test_kfold_exact_balance_and_determinism(spark):
    from extended_ops.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    out = stratified_kfold(
        docs, key_col="doc_id", strata_col="source", k=5
    )
    per = {
        (r.source, r.fold): r.n
        for r in out.groupBy("source", "fold")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    sources = {s for s, _ in per}
    for s in sources:
        counts = [per.get((s, f), 0) for f in range(5)]
        assert max(counts) - min(counts) <= 1, (s, counts)
    # deterministic: same assignment on a re-run
    again = {
        (r.doc_id): r.fold for r in stratified_kfold(
            docs, key_col="doc_id", strata_col="source", k=5
        ).collect()
    }
    first = {(r.doc_id): r.fold for r in out.collect()}
    assert first == again
    with pytest.raises(ValueError, match="k must be"):
        stratified_kfold(docs, key_col="doc_id", strata_col="source", k=1)


def test_domain_stats_cover_all_hosts(spark):
    """Every source maps to exactly one host row and doc counts sum to
    the corpus size."""
    from extended_ops.sources.tables import load_table

    rows = STAGED_R16_QUERIES["web_domain_stats"](spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents").where(
        F.col("text").isNotNull()
    )
    n_sources = docs.select("source").distinct().count()
    assert len(rows) == n_sources
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert r.host.endswith(".example.com")
        assert 0.0 <= r.dup_rate <= 1.0
