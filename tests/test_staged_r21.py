"""Content checks for ``plans/staged_r21.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests catch degenerate variants that would still hash-match
a broken producer."""

from __future__ import annotations

import pytest
from conftest import SF_DIR

from flink_audit_sessions_example_spark.plans.staged_r21 import (
    RETURNED_TOP_N,
    STAGED_R21_QUERIES,
)


def test_staged_r21_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: an empty/flat top-N, a single-cell seasonality grid,
    a one-source budget, an out-of-bound sketch, and a weekly rollup
    that lost mass."""
    top = STAGED_R21_QUERIES["rel_returned_items"](spark, SF_DIR).collect()
    assert len(top) == RETURNED_TOP_N
    revs = [r.return_revenue for r in top]
    assert revs == sorted(revs, reverse=True)
    assert revs[0] > 0 and len(set(revs)) > 1

    grid = STAGED_R21_QUERIES["win_dow_profile"](spark, SF_DIR).collect()
    assert len({(r.iso_dow, r.hour) for r in grid}) > 24
    assert all(1 <= r.iso_dow <= 7 and 0 <= r.hour <= 23 for r in grid)
    by_type: dict = {}
    for r in grid:
        by_type[r.event_type] = by_type.get(r.event_type, 0.0) + r.share
    for t, s in by_type.items():
        assert s == pytest.approx(1.0, abs=1e-4), t

    budget = STAGED_R21_QUERIES["corpus_token_budget"](
        spark, SF_DIR
    ).collect()
    assert len(budget) > 1
    assert sum(r.token_share for r in budget) == pytest.approx(
        1.0, abs=1e-5
    )
    assert all(r.n_tokens > 0 and r.n_docs > 0 for r in budget)

    hll = STAGED_R21_QUERIES["agg_hll_union"](spark, SF_DIR).collect()[0]
    assert hll.within_bound and hll.true_distinct >= 1

    weekly = STAGED_R21_QUERIES["xform_week_rollup"](
        spark, SF_DIR
    ).collect()
    assert len(weekly) >= 5
    # mass conservation: weekly sums equal the raw event count
    from flink_audit_sessions_example_spark.sources import load_table

    raw = (
        load_table(spark, SF_DIR, "events")
        .where("ts IS NOT NULL AND event_type IS NOT NULL")
        .count()
    )
    assert sum(r.n_events for r in weekly) == raw
