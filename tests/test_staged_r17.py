"""Content checks for ``plans/staged_r17.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests catch degenerate variants that would still hash-match
a broken producer."""

from __future__ import annotations

from conftest import SF_DIR

from extended_ops.plans.staged_r17 import (
    STAGED_R17_QUERIES,
)


def test_staged_r17_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: a tier table with no model hits or no OOV tail (holdout
    split broken), an all-zero CUSUM (deviations vanished), an empty
    delay relation, and a Benford table missing digits."""
    tiers = STAGED_R17_QUERIES["lm_backoff_tiers"](
        spark, SF_DIR
    ).collect()
    assert sum(t.n_tri for t in tiers) > 0
    assert sum(t.n_bi for t in tiers) > 0
    assert sum(t.n_uni for t in tiers) > 0
    assert all(
        t.n_tri + t.n_bi + t.n_uni + t.n_oov == t.n_tokens
        for t in tiers
    )
    # corpus fact, pinned: the synthetic vocabulary closes over the
    # 90% reference split, so every token resolves somewhere in the
    # model (the OOV rung is exercised by test_r17_ops fixtures)
    assert all(t.hit_rate == 1.0 for t in tiers)

    cps = STAGED_R17_QUERIES["win_changepoint"](spark, SF_DIR).collect()
    assert len(cps) >= 1
    assert any(c.cusum_up > 0 for c in cps)
    assert any(c.cusum_down > 0 for c in cps)

    delay = STAGED_R17_QUERIES["rel_supplier_delay"](
        spark, SF_DIR
    ).collect()
    assert sum(d.numwait for d in delay) >= 1

    ben = STAGED_R17_QUERIES["dq_benford"](spark, SF_DIR).collect()
    digits = {(r.l_returnflag, r.digit) for r in ben}
    flags = {r.l_returnflag for r in ben}
    assert all(
        (f, d) in digits for f in flags for d in range(1, 10)
    ), "a first digit is missing from a group"
    assert all(r.chi2 > 0 for r in ben)
