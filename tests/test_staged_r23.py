"""Content checks for ``plans/staged_r23.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests catch degenerate variants that would still hash-match
a broken producer."""

from __future__ import annotations

import pytest
from conftest import SF_DIR

from extended_ops.plans.staged_r23 import (
    STAGED_R23_QUERIES,
)


def test_staged_r23_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: an all-zero (or all-one) market share, a hapax table
    that never sees the tail, a drift table whose halves are empty or
    whose χ² never registers, a silence table that never finds a
    quiet frame (or calls everything quiet), and a confusion matrix
    that is empty off-diagonal AND on-diagonal."""
    share = STAGED_R23_QUERIES["rel_market_share"](
        spark, SF_DIR
    ).collect()
    assert len(share) >= 3
    assert any(r.mkt_share > 0 for r in share), "numerator never fires"
    assert all(0.0 <= r.mkt_share < 1.0 for r in share)
    assert all(r.total_revenue > 0 for r in share)

    hap = STAGED_R23_QUERIES["text_hapax_rate"](spark, SF_DIR).collect()
    assert len(hap) >= 2
    assert all(
        0 <= r.n_hapax <= r.vocab_size <= r.n_tokens for r in hap
    )
    assert sum(r.n_hapax for r in hap) >= 1, "tail never observed"

    drift = STAGED_R23_QUERIES["dq_category_drift"](
        spark, SF_DIR
    ).collect()
    assert len(drift) >= 2
    assert all(r.n_first > 0 and r.n_second > 0 for r in drift)
    assert all(r.chi2_contrib >= 0 for r in drift)
    assert any(r.chi2_contrib > 0 for r in drift)
    assert sum(r.share_first for r in drift) == pytest.approx(
        1.0, abs=1e-5
    )
    assert sum(r.share_second for r in drift) == pytest.approx(
        1.0, abs=1e-5
    )

    sil = STAGED_R23_QUERIES["multimodal_audio_silence"](
        spark, SF_DIR
    ).collect()
    assert len(sil) >= 10
    assert all(
        0 <= r.longest_quiet_run <= r.n_quiet <= r.n_frames for r in sil
    )
    assert any(r.n_quiet > 0 for r in sil), "never quiet"
    assert all(
        r.n_quiet < r.n_frames for r in sil
    ), "everything quiet (threshold degenerate)"
    assert any(r.longest_quiet_run >= 2 for r in sil), "runs never form"

    conf = STAGED_R23_QUERIES["sim_centroid_assign"](
        spark, SF_DIR
    ).collect()
    assert sum(r.n for r in conf) == 500  # every vector assigned once
    assert any(
        r.label == r.assigned_label and r.n > 0 for r in conf
    ), "centroids never recover their own label"
