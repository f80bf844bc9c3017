"""Content checks for ``plans/staged_r18.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests catch degenerate variants that would still hash-match
a broken producer."""

from __future__ import annotations

from conftest import SF_DIR

from extended_ops.plans.staged_r18 import (
    KMV_I_K,
    STAGED_R18_QUERIES,
)


def test_staged_r18_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: an unsaturated sketch (exact fallback, estimator not
    under test), a pair table with no sentinel or no letter pairs, an
    EWMA that never smooths, and an empty snapshot half."""
    kmv = STAGED_R18_QUERIES["agg_kmv_intersect"](
        spark, SF_DIR
    ).collect()[0]
    assert kmv.within_bound
    assert kmv.true_common >= 1
    # both sketches saturate, so the ESTIMATED path is under test
    assert kmv.n_a > KMV_I_K and kmv.n_b > KMV_I_K

    pairs = STAGED_R18_QUERIES["text_bpe_pairs"](spark, SF_DIR).collect()
    assert any(r.b == "</w>" for r in pairs), "no word-final pairs"
    assert any(
        r.a.isalpha() and r.b.isalpha() for r in pairs
    ), "no letter-letter pairs"
    assert all(r.cnt >= 2 for r in pairs)

    ewma = STAGED_R18_QUERIES["win_ewma"](spark, SF_DIR).collect()
    assert any(abs(r.ewma - r.n) > 1e-9 for r in ewma), "never smooths"
    firsts = {}
    for r in sorted(ewma, key=lambda r: (r.event_type, r.bucket)):
        firsts.setdefault(r.event_type, r)
    # seed rule: the first bucket's EWMA is its own count
    assert all(r.ewma == float(r.n) for r in firsts.values())

    drift = STAGED_R18_QUERIES["dq_profile_drift"](
        spark, SF_DIR
    ).collect()
    assert len(drift) == 3
    assert all(r.n_rows_base > 0 and r.n_rows_new > 0 for r in drift)
    assert all(r.null_rate_delta is not None for r in drift)
