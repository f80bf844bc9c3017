"""Content checks for ``plans/staged_r24.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests catch degenerate variants that would still hash-match
a broken producer."""

from __future__ import annotations

from conftest import SF_DIR

from extended_ops.plans.staged_r24 import (
    COVERAGE_KS,
    Q19_BRACKETS,
    TOP_PARTS_K,
    STAGED_R24_QUERIES,
)


def test_staged_r24_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: a disjunct with a dead leg (or 'any' double-counting), a
    histogram with no bounces or no depth, a coverage curve that is
    flat or non-monotone, and a csv that lost its rank order."""
    q19 = {
        r.bracket: r.revenue
        for r in STAGED_R24_QUERIES["rel_disjunctive_revenue"](
            spark, SF_DIR
        ).collect()
    }
    assert set(q19) == {name for _, name in Q19_BRACKETS} | {"any"}
    assert all(v > 0 for v in q19.values()), "a bracket leg is dead"
    # 'any' counts overlap rows once: <= the per-bracket sum, >= max leg
    legs = [q19[name] for _, name in Q19_BRACKETS]
    assert max(legs) <= q19["any"] <= sum(legs) + 1e-6

    hist = {
        r.session_len: r.n_sessions
        for r in STAGED_R24_QUERIES["win_session_lengths"](
            spark, SF_DIR
        ).collect()
    }
    assert hist.get(1, 0) >= 1, "no bounces"
    assert any(k >= 2 for k in hist), "no multi-event sessions"

    cov = sorted(
        STAGED_R24_QUERIES["text_ngram_coverage"](
            spark, SF_DIR
        ).collect(),
        key=lambda r: r.k,
    )
    assert [r.k for r in cov] == sorted(COVERAGE_KS)
    assert all(0 < r.coverage <= 1.0 for r in cov)
    # monotone: a bigger head never covers less
    assert all(
        a.coverage <= b.coverage for a, b in zip(cov, cov[1:])
    )
    assert cov[0].coverage < 1.0, "tiny head already covers everything"
    assert all(
        r.covered_occurrences <= r.total_occurrences for r in cov
    )

    top = STAGED_R24_QUERIES["rel_top_parts_concat"](
        spark, SF_DIR
    ).collect()
    assert len(top) >= 3
    for r in top:
        parts = r.top_parts.split(",")
        assert 1 <= len(parts) <= TOP_PARTS_K
        assert len(set(parts)) == len(parts), "duplicate part in csv"
        assert all(p.isdigit() for p in parts)
    assert any(
        len(r.top_parts.split(",")) == TOP_PARTS_K for r in top
    )
