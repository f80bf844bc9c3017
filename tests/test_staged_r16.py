"""Content checks for ``plans/staged_r16.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests catch degenerate variants that would still hash-match
a broken producer."""

from __future__ import annotations

from conftest import SF_DIR

from extended_ops.plans.staged_r16 import (
    STAGED_R16_QUERIES,
)


def test_staged_r16_content_is_nonvacuous(spark):
    """All-zero variants would hash-match a broken producer: the
    attribution table must credit at least one conversion, and the
    domain table must see real duplicates."""
    attr = {
        r.event_type: r
        for r in STAGED_R16_QUERIES["win_attribution"](
            spark, SF_DIR
        ).collect()
    }
    assert sum(r.n_last_touch for r in attr.values()) >= 1
    assert all(r.n_touches >= r.n_last_touch for r in attr.values())
    dom = STAGED_R16_QUERIES["web_domain_stats"](spark, SF_DIR).collect()
    assert sum(r.n_dups for r in dom) >= 1
