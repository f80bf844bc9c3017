"""Content checks for ``plans/staged_r19.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests catch degenerate variants that would still hash-match
a broken producer."""

from __future__ import annotations

from conftest import SF_DIR

from extended_ops.plans.staged_r19 import (
    QMERGE_K,
    STAGED_R19_QUERIES,
)


def test_staged_r19_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: an unsaturated merged sketch (the merge had nothing to
    cut), a Q17 relation with no qualifying lines, and a z table that
    never flags."""
    merged = STAGED_R19_QUERIES["agg_quantile_merge"](
        spark, SF_DIR
    ).collect()
    assert len(merged) == QMERGE_K  # saturated: the cut actually ran

    q17 = STAGED_R19_QUERIES["rel_small_quantity"](spark, SF_DIR).collect()
    assert len(q17) >= 10
    assert all(r.avg_yearly > 0 for r in q17)

    zs = STAGED_R19_QUERIES["win_zscore"](spark, SF_DIR).collect()
    assert any(r.is_anomaly for r in zs), "never flags"
    # z is NULL exactly when the type's hourly counts are all equal
    # (radicand 0, a constant series)
    counts_by_k: dict = {}
    for r in zs:
        counts_by_k.setdefault(r.event_type, set()).add(r.n)
    for r in zs:
        assert (r.z is None) == (len(counts_by_k[r.event_type]) == 1), r
    # z-scores per key are standardized: they sum to ~0
    by_k: dict = {}
    for r in zs:
        if r.z is not None:
            by_k.setdefault(r.event_type, []).append(r.z)
    for k, vals in by_k.items():
        assert abs(sum(vals)) < 0.01 * len(vals), k
